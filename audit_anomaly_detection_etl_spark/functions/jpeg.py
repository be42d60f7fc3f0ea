"""Pure-stdlib baseline JPEG codec (numpy) — closes the image-decode stub
for the second public format (functions/png.py closed PNG in round 5).

Everything here is re-derived from the public JPEG standard (ITU-T T.81 /
ISO 10918-1) and the public JFIF spec: marker segments, Annex-K example
quantization tables, canonical Huffman code construction (F.2.2.3), the
zigzag scan (generated programmatically, not transcribed), the F.2.2.1
EXTEND sign convention, and the BT.601 full-range YCbCr<->RGB transform
JFIF mandates. No external codec library is involved.

Decoder scope (rejections are explicit ``JpegError``, never wrong pixels):

- baseline + extended-sequential Huffman frames (SOF0/SOF1), 8-bit
  precision; progressive (SOF2), arithmetic coding, hierarchical and
  lossless frames are refused
- 1-component (grayscale) and 3-component (YCbCr) scans, any sampling
  factors in {1,2}x{1,2} (4:4:4, 4:2:2, 4:4:0, 4:2:0); single interleaved
  scan; restart markers (DRI/RSTn) supported. A 3-component frame must
  name its components 1, 2, 3 (JFIF's Y, Cb, Cr) and carry no Adobe APP14
  ``transform=0``: those mark RGB-coded data, refused rather than pushed
  through the YCbCr transform into wrong colours
- bomb-safe like decode_png: SOF dimensions are capped at ``max_pixels``
  BEFORE any allocation, and the entropy decode is bounded by the MCU
  count the header implies

Vectorization: Huffman entropy decoding is inherently bit-serial and runs
as a python loop over a pre-unpacked bit array (bounded by the real
coefficient count); everything after it — dequantize, dezigzag, the 8x8
IDCT (one orthonormal-DCT-matrix einsum over ALL blocks at once), plane
assembly, chroma upsample, colorspace — is whole-image numpy. Spark-side
position identical to the PNG/audio codecs: per-pixel work inside a codec
kernel invoked from Arrow-batched mapInPandas, never per-Spark-row python.

Encoder: for round-trip oracles and small report images — baseline, 8-bit,
gray or RGB, 4:4:4 or 4:2:0, Annex-K tables scaled by the public libjpeg
quality curve, optional restart interval (exercises the decoder's RST
path). Its Huffman tables are valid-by-construction flat canonical codes
(every DC symbol 4 bits, every AC symbol 8 bits — prefix-free with the
all-ones code unused, slightly suboptimal compression, zero chance of a
mis-transcribed Annex-K code table); any conformant decoder reads them
from the DHT segments as usual.
"""

from __future__ import annotations

import struct

import numpy as np

#: Decode refusal threshold — tighter than functions/png.py because JPEG
#: decode holds coefficient + IDCT + color intermediates (~16-20 bytes per
#: sample with the int32/float32 pipeline, vs PNG's filter buffers): 16 Mpx
#: (4096x4096) keeps peak decode memory under ~1 GB per payload, well
#: inside a fair executor-task share, while still covering any
#: report/thumbnail/frame-grab scale image. A crafted SOF claiming more is
#: refused BEFORE the coefficient store is allocated.
MAX_PIXELS = 1 << 24


class JpegError(ValueError):
    """Malformed/unsupported JPEG — decode refused, never wrong pixels."""


# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------


def _zigzag() -> np.ndarray:
    """Raster position of each zigzag index (generated, not transcribed):
    anti-diagonals d = i+j in order; odd d walks down-left (i ascending),
    even d up-right (i descending); positions outside 8x8 are clipped on
    the long diagonals."""
    out = []
    for d in range(15):
        rng = range(d + 1)
        for i in rng if d % 2 == 1 else reversed(rng):
            j = d - i
            if i < 8 and j < 8:
                out.append(i * 8 + j)
    return np.array(out, dtype=np.int64)


_ZIG = _zigzag()

# Annex K.1 example quantization tables (public), raster order.
_QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis M with M[x, u] = a(u) cos((2x+1)u
    pi/16): forward F = M.T @ f @ M, inverse f = M @ F @ M.T."""
    x = np.arange(8).reshape(8, 1)
    u = np.arange(8).reshape(1, 8)
    m = np.cos((2 * x + 1) * u * np.pi / 16)
    m[:, 0] *= 1.0 / np.sqrt(2.0)
    return m * 0.5


_DCT_M = _dct_matrix()


# ---------------------------------------------------------------------------
# bit I/O + canonical Huffman
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over a de-stuffed entropy segment."""

    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        if p + n > len(self.bits):
            raise JpegError("entropy data exhausted mid-block")
        self.pos = p + n
        v = 0
        for b in self.bits[p : p + n]:
            v = (v << 1) | int(b)
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        bits = self.bits
        p = self.pos
        n = len(bits)
        for length in range(1, 17):
            if p >= n:
                raise JpegError("entropy data exhausted mid-code")
            code = (code << 1) | int(bits[p])
            p += 1
            sym = table.get((length, code))
            if sym is not None:
                self.pos = p
                return sym
        raise JpegError("invalid Huffman code (>16 bits)")


def _canonical_codes(counts: list[int], symbols: list[int]):
    """DHT (BITS, HUFFVAL) -> {(length, code): symbol} per T.81 F.2.2.3 —
    codes assigned sequentially within each length, doubled across
    lengths."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                raise JpegError("DHT symbol count mismatch")
            if code >= (1 << length):
                raise JpegError("DHT code overflow (invalid table)")
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t received bits to the signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

_SOF_UNSUPPORTED = {
    0xC2: "progressive",
    0xC3: "lossless",
    0xC5: "differential sequential",
    0xC6: "differential progressive",
    0xC7: "differential lossless",
    0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive",
    0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential",
    0xCE: "differential arithmetic progressive",
    0xCF: "differential arithmetic lossless",
}


def _split_entropy(raw: bytes, start: int):
    """Extract the scan's entropy bytes from ``start``: de-stuff FF00,
    split at RSTn markers, stop at any other marker. Returns (segments,
    end_position_of_terminating_marker)."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(raw)
    while i < n:
        b = raw[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            raise JpegError("truncated entropy stream")
        m = raw[i + 1]
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        elif m == 0xFF:  # fill byte
            i += 1
        else:
            segs.append(bytes(cur))
            return segs, i
    raise JpegError("entropy stream ran past end of data (no EOI)")


def decode_jpeg(raw: bytes, max_pixels: int = MAX_PIXELS) -> np.ndarray:
    """JPEG bytes -> uint8 array of shape (height, width, channels): (h, w,
    3) RGB for YCbCr images, (h, w, 1) for grayscale. Raises JpegError on
    anything malformed or out of scope."""
    if len(raw) < 4 or raw[0] != 0xFF or raw[1] != 0xD8:
        raise JpegError("bad SOI magic")
    quant: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], dict] = {}  # (class, id) -> code table
    frame = None  # (h, w, [(cid, hi, vi, tq)])
    dri = 0
    adobe_rgb = False  # Adobe APP14 transform=0: components are not YCbCr
    i = 2
    n = len(raw)
    while True:
        if i + 2 > n:
            raise JpegError("ran off end looking for a marker")
        if raw[i] != 0xFF:
            raise JpegError(f"expected marker, got byte {raw[i]:#x}")
        marker = raw[i + 1]
        if marker == 0xFF:  # fill
            i += 1
            continue
        i += 2
        if marker == 0xD9:  # EOI before SOS
            raise JpegError("EOI before any scan")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RST: no payload
            continue
        if i + 2 > n:
            raise JpegError("truncated segment length")
        (seg_len,) = struct.unpack(">H", raw[i : i + 2])
        if seg_len < 2 or i + seg_len > n:
            raise JpegError("truncated segment")
        body = raw[i + 2 : i + seg_len]
        i += seg_len
        if marker in _SOF_UNSUPPORTED:
            raise JpegError(f"unsupported frame type: {_SOF_UNSUPPORTED[marker]}")
        if marker in (0xC0, 0xC1):  # SOF0/1: baseline / extended sequential
            if len(body) < 6:
                raise JpegError("short SOF")
            prec, h, w, nf = body[0], struct.unpack(">H", body[1:3])[0], struct.unpack(
                ">H", body[3:5]
            )[0], body[5]
            if prec != 8:
                raise JpegError(f"unsupported sample precision {prec}")
            if h == 0 or w == 0:
                raise JpegError("zero dimension (DNL not supported)")
            if w * h > max_pixels:
                raise JpegError(f"image {w}x{h} exceeds max_pixels={max_pixels}")
            if nf not in (1, 3):
                raise JpegError(f"unsupported component count {nf}")
            if len(body) != 6 + 3 * nf:
                raise JpegError("SOF length mismatch")
            comps = []
            for c in range(nf):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise JpegError(f"unsupported sampling {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            if nf == 3 and {c[0] for c in comps} != {1, 2, 3}:
                raise JpegError("3-component frame without YCbCr ids 1,2,3")
            frame = (h, w, comps)
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                if j + 17 > len(body):
                    raise JpegError("short DHT")
                tc, th = body[j] >> 4, body[j] & 0xF
                if tc > 1:
                    raise JpegError("arithmetic conditioning in DHT slot")
                counts = list(body[j + 1 : j + 17])
                total = sum(counts)
                if j + 17 + total > len(body):
                    raise JpegError("short DHT symbols")
                syms = list(body[j + 17 : j + 17 + total])
                huffs[(tc, th)] = _canonical_codes(counts, syms)
                j += 17 + total
        elif marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0xF
                width = 2 if pq == 1 else 1
                end = j + 1 + 64 * width
                if pq > 1 or end > len(body):
                    raise JpegError("bad DQT")
                if pq == 1:
                    tbl = np.frombuffer(body[j + 1 : end], dtype=">u2").astype(
                        np.int64
                    )
                else:
                    tbl = np.frombuffer(
                        body[j + 1 : end], dtype=np.uint8
                    ).astype(np.int64)
                if (tbl == 0).any():
                    raise JpegError("zero quantizer step")
                quant[tq] = tbl  # zigzag order, as stored
                j = end
        elif marker == 0xDD:  # DRI
            if len(body) != 2:
                raise JpegError("bad DRI")
            (dri,) = struct.unpack(">H", body)
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            adobe_rgb = body[11] == 0
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            if adobe_rgb and len(frame[2]) == 3:
                raise JpegError("Adobe APP14 transform=0 (RGB-coded frame)")
            return _decode_scan(raw, i, body, frame, quant, huffs, dri)
        # else: APPn/COM/other tables — skipped


def _decode_scan(raw, pos, sos, frame, quant, huffs, dri):
    h, w, comps = frame
    if len(sos) < 1:
        raise JpegError("short SOS")
    ns = sos[0]
    if len(sos) != 1 + 2 * ns + 3:
        raise JpegError("SOS length mismatch")
    if ns != len(comps):
        raise JpegError("non-interleaved / partial scans not supported")
    ss, se, ahal = sos[1 + 2 * ns : 4 + 2 * ns]
    if ss != 0 or se != 63 or ahal != 0:
        raise JpegError("spectral selection / successive approx not baseline")
    by_id = {cid: (idx, hi, vi, tq) for idx, (cid, hi, vi, tq) in enumerate(comps)}
    order = []  # scan order: (comp_idx, hi, vi, tq, dc_table, ac_table)
    for s in range(ns):
        cs, tdta = sos[1 + 2 * s], sos[2 + 2 * s]
        if cs not in by_id:
            raise JpegError(f"SOS names unknown component {cs}")
        idx, hi, vi, tq = by_id[cs]
        td, ta = tdta >> 4, tdta & 0xF
        if (0, td) not in huffs or (1, ta) not in huffs:
            raise JpegError("scan references a missing Huffman table")
        if tq not in quant:
            raise JpegError("component references a missing quant table")
        order.append((idx, hi, vi, tq, huffs[(0, td)], huffs[(1, ta)]))

    if ns == 1:
        # T.81 A.2: a single-component scan is NON-interleaved — one data
        # unit per MCU in raster order over ceil(w/8) x ceil(h/8) blocks.
        # The frame's sampling factors are meaningless with no other
        # component to be relative to; honoring them here would tile the
        # blocks in interleaved-MCU order and scramble valid grayscale
        # files whose SOF kept e.g. 2x2 luma factors.
        i0, _hi, _vi, tq, dct, act = order[0]
        order = [(i0, 1, 1, tq, dct, act)]

    hmax = max(o[1] for o in order)
    vmax = max(o[2] for o in order)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    n_mcus = mcus_x * mcus_y

    segs, _end = _split_entropy(raw, pos)
    # coefficient store per component, zigzag order, block-grid raster.
    # int32 (quantized baseline coefficients are < 2^12): together with the
    # float32 back half this keeps peak decode memory ~8 bytes/sample so
    # the max_pixels bound stays a real executor-memory bound, not just a
    # pixel-count bound.
    zz = [
        np.zeros((mcus_y * vi * mcus_x * hi, 64), dtype=np.int32)
        for (_i, hi, vi, _t, _d, _a) in order
    ]
    grid_w = [hi * mcus_x for (_i, hi, _v, _t, _d, _a) in order]
    preds = [0] * ns
    seg_i = 0
    reader = _BitReader(segs[0]) if segs else None
    for m in range(n_mcus):
        if dri and m and m % dri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise JpegError("missing restart segment")
            reader = _BitReader(segs[seg_i])
            preds = [0] * ns
        if reader is None:
            raise JpegError("empty entropy stream")
        my, mx = divmod(m, mcus_x)
        for s, (_idx, hi, vi, _tq, dct, act) in enumerate(order):
            for by in range(vi):
                for bx in range(hi):
                    blk = np.zeros(64, dtype=np.int32)
                    t = reader.huff(dct)
                    if t > 15:
                        raise JpegError("DC category out of range")
                    preds[s] += _extend(reader.read(t), t)
                    blk[0] = preds[s]
                    k = 1
                    while k <= 63:
                        rs = reader.huff(act)
                        r, size = rs >> 4, rs & 0xF
                        if size == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise JpegError("AC run past block end")
                        blk[k] = _extend(reader.read(size), size)
                        k += 1
                    gy, gx = my * vi + by, mx * hi + bx
                    zz[s][gy * grid_w[s] + gx] = blk

    # vectorized back half: dequant -> dezigzag -> IDCT -> planes -> color,
    # all float32 (8-bit output needs ~0.5 absolute accuracy; float32 dot
    # products over 8 terms are exact to ~1e-2 at baseline magnitudes)
    m32 = _DCT_M.astype(np.float32)
    planes = []
    for s, (_idx, hi, vi, tq, _d, _a) in enumerate(order):
        deq = zz[s].astype(np.float32) * quant[tq].astype(np.float32)[None, :]
        blocks = np.empty_like(deq)
        blocks[:, _ZIG] = deq
        blocks = blocks.reshape(-1, 8, 8)
        spatial = np.einsum("xu,nuv,vy->nxy", m32, blocks, m32.T) + np.float32(128.0)
        bh, bw = mcus_y * vi, mcus_x * hi
        plane = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1)
        planes.append(plane[:h, :w])

    if ns == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _flat_table(symbols: list[int], length: int):
    """Valid-by-construction canonical table: every symbol at one code
    length (prefix-free trivially; the all-ones code stays unused because
    len(symbols) < 2**length). Returns (encode_map, bits16, symbols)."""
    if len(symbols) >= (1 << length):
        raise ValueError("too many symbols for flat code length")
    enc = {sym: (length, code) for code, sym in enumerate(symbols)}
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return enc, bits, symbols


_DC_ENC, _DC_BITS, _ = _flat_table(_DC_SYMS, 4)
_AC_ENC, _AC_BITS, _ = _flat_table(_AC_SYMS, 8)


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def pad(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """Public libjpeg quality curve: 1..100 -> scaled Annex-K table."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be 1..100")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * s + 50) // 100, 1, 255).astype(np.int64)


def _plane_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate pad to (bh*8, bw*8), return zigzag DCT-ready blocks
    of shape (bh, bw, 8, 8), float centered at 0."""
    h, w = plane.shape
    padded = np.pad(
        plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge"
    ).astype(np.float64) - 128.0
    return padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)


def _segment(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def encode_jpeg(
    px: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """uint8 (h, w), (h, w, 1) or (h, w, 3) -> baseline JFIF bytes.
    ``subsample=True`` writes 4:2:0 chroma (2x2 box-filtered);
    ``restart_interval`` > 0 emits DRI + RSTn every that many MCUs."""
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if ch not in (1, 3):
        raise ValueError(f"unsupported channel count {ch}")

    # zigzag order throughout: the coefficient vectors are zigzag-ordered
    # and DQT stores its 64 steps in zigzag order by definition
    qy = _scaled_quant(_QUANT_LUMA, quality)[_ZIG]
    qc = _scaled_quant(_QUANT_CHROMA, quality)[_ZIG]

    if ch == 3:
        f = px.astype(np.float64)
        y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        cb = -0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2] + 128.0
        cr = 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2] + 128.0
        if subsample:
            pe = lambda p: np.pad(
                p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge"
            )
            ds = lambda p: pe(p).reshape(
                (p.shape[0] + 1) // 2, 2, (p.shape[1] + 1) // 2, 2
            ).mean(axis=(1, 3))
            cb, cr = ds(cb), ds(cr)
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qids = [0, 1, 1]
        qts = [qy, qc, qc]
    else:
        planes = [px[:, :, 0].astype(np.float64)]
        samp = [(1, 1)]
        qids = [0]
        qts = [qy]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # per-component quantized zigzag coefficients, block-grid indexed
    comp_zz = []
    for plane, (hi, vi), qt in zip(planes, samp, qts):
        bh, bw = mcus_y * vi, mcus_x * hi
        blocks = _plane_blocks(plane, bh, bw)
        coef = np.einsum("ux,ghxy,yv->ghuv", _DCT_M.T, blocks, _DCT_M)
        zzs = coef.reshape(bh, bw, 64)[:, :, _ZIG]
        comp_zz.append(np.round(zzs / qt[None, None, :]).astype(np.int64))

    bw_ = _BitWriter()
    preds = [0] * len(planes)
    rst = 0
    out_entropy = bytearray()
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            bw_.pad()
            out_entropy += bw_.out
            out_entropy += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            bw_ = _BitWriter()
            preds = [0] * len(planes)
        my, mx = divmod(m, mcus_x)
        for c, ((hi, vi), zzs) in enumerate(zip(samp, comp_zz)):
            for by in range(vi):
                for bx in range(hi):
                    blk = zzs[my * vi + by, mx * hi + bx]
                    diff = int(blk[0]) - preds[c]
                    preds[c] = int(blk[0])
                    t = _category(diff)
                    ln, code = _DC_ENC[t]
                    bw_.write(code, ln)
                    if t:
                        bw_.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                    run = 0
                    last_nz = int(np.max(np.nonzero(blk)[0])) if blk.any() else 0
                    for k in range(1, 64):
                        v = int(blk[k])
                        if v == 0:
                            if k > last_nz:
                                ln, code = _AC_ENC[0x00]  # EOB
                                bw_.write(code, ln)
                                break
                            run += 1
                            continue
                        while run > 15:
                            ln, code = _AC_ENC[0xF0]  # ZRL
                            bw_.write(code, ln)
                            run -= 16
                        s = _category(v)
                        ln, code = _AC_ENC[(run << 4) | s]
                        bw_.write(code, ln)
                        bw_.write(v if v >= 0 else v + (1 << s) - 1, s)
                        run = 0
    bw_.pad()
    out_entropy += bw_.out

    def dht(tc: int, th: int, bits: list[int], syms: list[int]) -> bytes:
        return _segment(
            0xC4, bytes([tc << 4 | th] + bits + syms)
        )

    parts = [bytes([0xFF, 0xD8])]
    parts.append(
        _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    )
    parts.append(_segment(0xDB, bytes([0x00]) + bytes(qy[k] for k in range(64))))
    if len(planes) == 3:
        parts.append(
            _segment(0xDB, bytes([0x01]) + bytes(qc[k] for k in range(64)))
        )
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(planes)))
    for c, ((hi, vi), qid) in enumerate(zip(samp, qids)):
        sof += bytes([c + 1, (hi << 4) | vi, qid])
    parts.append(_segment(0xC0, bytes(sof)))
    parts.append(dht(0, 0, _DC_BITS, _DC_SYMS))
    parts.append(dht(1, 0, _AC_BITS, _AC_SYMS))
    if len(planes) == 3:
        parts.append(dht(0, 1, _DC_BITS, _DC_SYMS))
        parts.append(dht(1, 1, _AC_BITS, _AC_SYMS))
    if restart_interval:
        parts.append(_segment(0xDD, struct.pack(">H", restart_interval)))
    sos = bytearray([len(planes)])
    for c in range(len(planes)):
        t = 0 if c == 0 else 1
        sos += bytes([c + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    parts.append(_segment(0xDA, bytes(sos)))
    parts.append(bytes(out_entropy))
    parts.append(bytes([0xFF, 0xD9]))
    return b"".join(parts)
