"""Audio codec kernels: encode/decode between float PCM and byte payloads.

Pure numpy, fully vectorized — these run inside Arrow-batched pandas UDFs on
executors (no per-row Python in the hot path; each call processes one whole
clip as a numpy array, and the UDF layer batches thousands of clips per Arrow
batch).

Codecs supported (all public formats):
- ``pcm_s16le``  signed 16-bit little-endian linear PCM
- ``pcm_f32le``  32-bit little-endian float PCM
- ``ulaw``       ITU-T G.711 mu-law companding, 8 bit/sample
- ``alaw``       ITU-T G.711 A-law companding, 8 bit/sample

Canonical in-memory form is ``float32`` in [-1.0, 1.0).

The reference ETL never touches binary payloads (SURVEY.md §1.2: its type
system is str/float only); this module is the north-rule extension that gives
the engine its audio payload validation capability
(decoded-PCM allclose at SNR>=30dB, BASELINE.json ``input_hint``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CODECS = ("pcm_s16le", "pcm_f32le", "ulaw", "alaw")

# --- linear PCM ---------------------------------------------------------


def _encode_s16le(pcm: np.ndarray) -> bytes:
    x = np.clip(pcm, -1.0, 1.0 - 1.0 / 32768.0)
    return (x * 32768.0).astype("<i2").tobytes()


def _decode_s16le(raw: bytes) -> np.ndarray:
    return np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0


def _encode_f32le(pcm: np.ndarray) -> bytes:
    return pcm.astype("<f4").tobytes()


def _decode_f32le(raw: bytes) -> np.ndarray:
    return np.frombuffer(raw, dtype="<f4").astype(np.float32)


# --- G.711 mu-law --------------------------------------------------------

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def _encode_ulaw_arith(pcm: np.ndarray) -> bytes:
    """Spec-defining arithmetic kernel (G.711 mu-law segment/mantissa form).

    Used to BUILD the 64 Ki encode LUT at import and kept under exhaustive
    test; the hot path is the table lookup in :func:`_encode_ulaw`."""
    x = np.clip(pcm * 32768.0, -_ULAW_CLIP, _ULAW_CLIP).astype(np.int32)
    sign = np.where(x < 0, 0x80, 0).astype(np.int32)
    x = np.abs(x) + _ULAW_BIAS
    # exponent = position of highest set bit above bit 7
    exp = (np.floor(np.log2(x)) - 7).astype(np.int32)
    exp = np.clip(exp, 0, 7)
    mant = (x >> (exp + 3)) & 0x0F
    u = ~(sign | (exp << 4) | mant) & 0xFF
    return u.astype(np.uint8).tobytes()


def _decode_ulaw_arith(raw: bytes) -> np.ndarray:
    """Spec-defining arithmetic inverse; builds the 256-entry decode LUT."""
    u = (~np.frombuffer(raw, dtype=np.uint8)).astype(np.int32) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    x = np.where(sign != 0, -mag, mag)
    return x.astype(np.float32) / 32768.0


# --- G.711 A-law ---------------------------------------------------------


def _encode_alaw_arith(pcm: np.ndarray) -> bytes:
    """Spec-defining arithmetic kernel (G.711 A-law); builds the encode LUT."""
    x = np.clip(pcm * 32768.0, -32767, 32767).astype(np.int32)
    sign = np.where(x >= 0, 0x80, 0).astype(np.int32)
    x = np.abs(x)
    exp = np.zeros_like(x)
    big = x >= 256
    exp[big] = (np.floor(np.log2(x[big])) - 7).astype(np.int32)
    exp = np.clip(exp, 0, 7)
    mant = np.where(exp == 0, x >> 4, (x >> (exp + 3)) & 0x0F)
    a = (sign | (exp << 4) | mant) ^ 0x55
    return a.astype(np.uint8).tobytes()


def _decode_alaw_arith(raw: bytes) -> np.ndarray:
    """Spec-defining arithmetic inverse; builds the 256-entry decode LUT."""
    a = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 264) << (exp - 1))
    x = np.where(sign != 0, mag, -mag)
    return x.astype(np.float32) / 32768.0


# --- G.711 lookup-table hot path ------------------------------------------
#
# Both G.711 codecs are pure per-byte (decode) / per-quantized-sample
# (encode) maps, so the whole transform collapses to one ``np.take``:
# decode LUT = all 256 byte values through the arithmetic inverse; encode
# LUT = every int16 quantization level through the arithmetic kernel
# (pcm * 32768 is exact float64 on that grid, so LUT-by-construction is
# bit-identical to the arithmetic path — exhaustively asserted in
# tests/test_codecs.py). Measured 4x (decode) / 4-12x (encode) on 2M-sample
# clips; built once per Python worker at import (~5 ms, 320 KiB).

_ULAW_DECODE_LUT = _decode_ulaw_arith(bytes(range(256)))
_ALAW_DECODE_LUT = _decode_alaw_arith(bytes(range(256)))
_INT16_GRID = np.arange(-32768, 32768, dtype=np.float64) / 32768.0
_ULAW_ENCODE_LUT = np.frombuffer(_encode_ulaw_arith(_INT16_GRID), dtype=np.uint8)
_ALAW_ENCODE_LUT = np.frombuffer(_encode_alaw_arith(_INT16_GRID), dtype=np.uint8)
del _INT16_GRID


def _encode_ulaw(pcm: np.ndarray) -> bytes:
    # take(mode="clip"): NaN samples clip->NaN->astype gives INT32_MIN,
    # which plain fancy indexing would raise IndexError on (killing the
    # whole Arrow batch); the arithmetic kernels never raise on NaN, and
    # neither may the LUT hot path. mode="clip" pins the index in-range
    # at zero extra passes over the data. errstate: the NaN->int cast is
    # deliberate here, don't spam a RuntimeWarning per Arrow batch.
    with np.errstate(invalid="ignore"):
        x = np.clip(pcm * 32768.0, -_ULAW_CLIP, _ULAW_CLIP).astype(np.int32)
    return _ULAW_ENCODE_LUT.take(x + 32768, mode="clip").tobytes()


def _decode_ulaw(raw: bytes) -> np.ndarray:
    return _ULAW_DECODE_LUT[np.frombuffer(raw, dtype=np.uint8)]


def _encode_alaw(pcm: np.ndarray) -> bytes:
    # mode="clip" + errstate: NaN-safe indexing, see _encode_ulaw
    with np.errstate(invalid="ignore"):
        x = np.clip(pcm * 32768.0, -32767, 32767).astype(np.int32)
    return _ALAW_ENCODE_LUT.take(x + 32768, mode="clip").tobytes()


def _decode_alaw(raw: bytes) -> np.ndarray:
    return _ALAW_DECODE_LUT[np.frombuffer(raw, dtype=np.uint8)]


# --- Intel/DVI (IMA) ADPCM — transcode-target only -----------------------
#
# 4-bit lossy codec (2 samples/byte) with a per-stream predictor recurrence;
# the stdlib ``audioop`` C kernels run it (deprecated module, removed in
# Python 3.13 — gated import, loud error on use when absent). STATEFUL:
# encoding a concatenation of clips is NOT equal to encoding each clip, so
# callers must round-trip per clip (media.transcode_qa's stateful path).
# Median round-trip SNR on this repo's synth corpus is ~26 dB — below the
# suite's 30 dB payload invariant — so it is deliberately NOT a ``CODECS``
# member (a clip table declared adpcm could never validate at that
# envelope); it exists as a transcode-QA target for "can this corpus
# migrate to 4-bit storage?" audits. Odd-length inputs are padded with one
# zero sample at encode (audioop TRUNCATES the trailing odd sample
# otherwise); decode therefore returns 2*ceil(n/2) samples — callers trim.

try:  # pragma: no cover - environment probe
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore", DeprecationWarning)
        import audioop as _audioop
except ImportError:  # pragma: no cover - py3.13+ without audioop-lts
    _audioop = None

STATEFUL_TRANSCODE_CODECS = ("adpcm_dvi",)


def _require_audioop() -> None:
    if _audioop is None:
        raise ValueError(
            "codec 'adpcm_dvi' needs the stdlib audioop module (removed in "
            "Python 3.13); install the audioop-lts backport or run on <= 3.12"
        )


def _encode_adpcm_dvi(pcm: np.ndarray) -> bytes:
    _require_audioop()
    if len(pcm) % 2:  # audioop drops a trailing odd sample: pad, don't lose
        pcm = np.append(pcm, 0.0)
    x = np.clip(pcm, -1.0, 1.0 - 1.0 / 32768.0)
    frag, _state = _audioop.lin2adpcm((x * 32768.0).astype("<i2").tobytes(), 2, None)
    return frag


def _decode_adpcm_dvi(raw: bytes) -> np.ndarray:
    _require_audioop()
    s16, _state = _audioop.adpcm2lin(raw, 2, None)
    return np.frombuffer(s16, dtype="<i2").astype(np.float32) / 32768.0


_ENCODERS = {
    "pcm_s16le": _encode_s16le,
    "pcm_f32le": _encode_f32le,
    "ulaw": _encode_ulaw,
    "alaw": _encode_alaw,
    "adpcm_dvi": _encode_adpcm_dvi,
}
_DECODERS = {
    "pcm_s16le": _decode_s16le,
    "pcm_f32le": _decode_f32le,
    "ulaw": _decode_ulaw,
    "alaw": _decode_alaw,
    "adpcm_dvi": _decode_adpcm_dvi,
}

_BYTES_PER_SAMPLE = {"pcm_s16le": 2, "pcm_f32le": 4, "ulaw": 1, "alaw": 1}


def encode(pcm: np.ndarray, codec: str) -> bytes:
    """Encode float PCM ([-1,1), any float dtype) to payload bytes."""
    try:
        return _ENCODERS[codec](np.asarray(pcm, dtype=np.float64))
    except KeyError:
        raise ValueError(f"unknown codec: {codec!r}") from None


def decode(raw: bytes, codec: str) -> np.ndarray:
    """Decode payload bytes to float32 PCM. Raises ValueError on unknown codec."""
    try:
        return _DECODERS[codec](raw)
    except KeyError:
        raise ValueError(f"unknown codec: {codec!r}") from None


def bytes_per_sample(codec: str) -> int:
    return _BYTES_PER_SAMPLE[codec]


def codec_groups(raw_col: np.ndarray, codec_col: np.ndarray, allow_empty: bool = False):
    """Yield ``(idx, lens, seg, pcm)`` for each decodable codec group of one
    Arrow batch — the one decode path of every audio kernel.

    ``idx`` holds the batch rows whose payload decodes under their declared
    codec: a known codec, a whole number of samples, and at least one byte
    unless ``allow_empty``. ``lens`` is each row's sample count and ``seg``
    its start offset in ``pcm``, the float32 decode of the group's payloads
    concatenated: every codec here is an elementwise map, so one decode per
    group replaces one per clip, and per-clip reductions are
    ``np.add.reduceat(x, seg)``. Rows outside every group (null, torn,
    unknown codec) are the caller's ``decode_ok=False``.
    """
    byte_lens = np.array([len(r) if r is not None else -1 for r in raw_col], dtype=np.int64)
    min_bytes = 0 if allow_empty else 1
    for codec in pd.unique(codec_col):
        if codec not in CODECS:
            continue
        bps = _BYTES_PER_SAMPLE[codec]
        idx = np.flatnonzero(
            (codec_col == codec) & (byte_lens >= min_bytes) & (byte_lens % bps == 0)
        )
        if idx.size == 0:
            continue
        lens = byte_lens[idx] // bps
        seg = np.zeros(idx.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=seg[1:])
        yield idx, lens, seg, decode(b"".join(raw_col[i] for i in idx), codec)


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio in dB of ``test`` against reference PCM.

    Returns +inf for a bit-exact match, -inf for a length mismatch (a
    truncated payload can never pass the allclose invariant).
    """
    ref = np.asarray(ref, dtype=np.float64)
    test = np.asarray(test, dtype=np.float64)
    if ref.shape != test.shape:
        return float("-inf")
    noise = float(np.sum((ref - test) ** 2))
    if noise == 0.0:
        return float("inf")
    sig = float(np.sum(ref**2))
    if sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(sig / noise)


# ---------------------------------------------------------------------------
# WAV/RIFF container (pure bytes — no audio libs in this sandbox, and none
# needed: RIFF is a 12-byte header + tagged chunks)
# ---------------------------------------------------------------------------

# WAVE format tags <-> this module's codec names
_WAV_TAG_TO_CODEC = {1: "pcm_s16le", 3: "pcm_f32le", 6: "alaw", 7: "ulaw"}
_CODEC_TO_WAV_TAG = {v: k for k, v in _WAV_TAG_TO_CODEC.items()}


def encode_wav(pcm: np.ndarray, sr_hz: int, codec: str = "pcm_s16le") -> bytes:
    """Encode mono float PCM into a standard WAV container: RIFF header +
    ``fmt `` chunk (format tag per codec) + ``data`` chunk, odd chunks
    padded per spec."""
    import struct

    data = encode(pcm, codec)
    bps = bytes_per_sample(codec)
    tag = _CODEC_TO_WAV_TAG[codec]
    fmt = struct.pack(
        "<HHIIHH", tag, 1, sr_hz, sr_hz * bps, bps, 8 * bps
    )
    chunks = b"".join(
        struct.pack("<4sI", cid, len(body)) + body + (b"\x00" if len(body) % 2 else b"")
        for cid, body in ((b"fmt ", fmt), (b"data", data))
    )
    return struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks


def parse_wav(raw: bytes) -> dict:
    """Parse a WAV container's metadata + payload WITHOUT decoding samples.

    Returns ``{sr_hz, n_channels, codec, n_samples, data}`` — ``codec`` is
    None for format tags this module cannot decode. Walks the chunk list
    (tolerating extra chunks like LIST/fact and odd-size padding) so a
    valid-but-unusual file still parses; raises ValueError on a torn or
    non-RIFF buffer. Validation callers compare the *container's* declared
    metadata against the table's declared columns — payload-level schema
    drift detection.
    """
    import struct

    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    pos, end = 12, len(raw)
    fmt = None
    data = None
    while pos + 8 <= end:
        cid, size = struct.unpack_from("<4sI", raw, pos)
        body_start = pos + 8
        if body_start + size > end:
            raise ValueError(f"torn chunk {cid!r}: declared {size}, available {end - body_start}")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", raw, body_start)
        elif cid == b"data":
            data = raw[body_start : body_start + size]
        pos = body_start + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    tag, n_channels, sr_hz, _byte_rate, block_align, _bits = fmt
    codec = _WAV_TAG_TO_CODEC.get(tag)
    n_samples = (len(data) // block_align) if block_align else 0
    return {
        "sr_hz": sr_hz,
        "n_channels": n_channels,
        "codec": codec,
        "n_samples": n_samples,
        "data": data,
    }


def resample_linear(pcm: np.ndarray, sr_from: int, sr_to: int) -> np.ndarray:
    """Deterministic linear-interpolation resample (the training-data
    normalize-to-16kHz step). Output length = round(n * sr_to / sr_from);
    ``np.interp`` is vectorized over samples — the python cost is per clip,
    never per sample. Identity when rates match (float32 cast only)."""
    pcm = np.asarray(pcm, dtype=np.float64)
    if sr_from == sr_to:
        return pcm.astype(np.float32)
    n_out = int(round(len(pcm) * sr_to / float(sr_from)))
    if len(pcm) == 0 or n_out == 0:
        return np.zeros(0, dtype=np.float32)
    x_out = np.arange(n_out, dtype=np.float64) * (sr_from / float(sr_to))
    src = np.arange(len(pcm), dtype=np.float64)
    return np.interp(x_out, src, pcm).astype(np.float32)
