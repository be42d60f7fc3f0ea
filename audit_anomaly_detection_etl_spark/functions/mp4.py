"""ISO BMFF (MP4/MOV) container metadata parser — pure byte arithmetic,
no codec library, re-derived from the public ISO/IEC 14496-12 box model.

Scope mirrors the image-side header sniffers (operators/media.py): the
CONTAINER layer is parsed for real — box walk, brand, movie duration,
track count/types, video track dimensions — while frame/sample *decode*
(H.264 et al.) remains the engine's one honest stub; no public
stdlib-expressible codec exists for it.

Same refusal discipline as functions/png.py / functions/jpeg.py:
structural damage raises ``Mp4Error`` (truncated boxes, impossible sizes,
missing moov/mvhd), never wrong metadata. Bomb-safe trivially: parsing
walks offsets only — nothing is decompressed and no allocation scales
past the input (nesting depth is capped; a box-size loop cannot recurse).

``build_minimal_mp4`` constructs spec-shaped fixture files for tests and
synthetic tables: ftyp + moov(mvhd + per-track trak(tkhd + mdia(hdlr)))
+ an empty mdat — enough structure for any box-walking reader.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta"}
_MAX_DEPTH = 8


class Mp4Error(ValueError):
    """Malformed/unsupported ISO-BMFF — parse refused, never wrong fields."""


def _boxes(buf: bytes, start: int, end: int, depth: int = 0):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    if depth > _MAX_DEPTH:
        raise Mp4Error("box nesting too deep")
    i = start
    while i < end:
        if i + 8 > end:
            raise Mp4Error("truncated box header")
        (size,) = struct.unpack(">I", buf[i : i + 4])
        btype = buf[i + 4 : i + 8]
        body = i + 8
        if size == 1:
            if i + 16 > end:
                raise Mp4Error("truncated largesize header")
            (size,) = struct.unpack(">Q", buf[i + 8 : i + 16])
            body = i + 16
            if size < 16:
                raise Mp4Error("impossible largesize")
        elif size == 0:  # box extends to end of enclosing scope
            size = end - i
        elif size < 8:
            raise Mp4Error("impossible box size")
        if i + size > end:
            raise Mp4Error(f"box {btype!r} overruns its container")
        yield btype, body, i + size
        i += size


def _find(buf: bytes, start: int, end: int, btype: bytes, depth: int = 0):
    for t, b, e in _boxes(buf, start, end, depth):
        if t == btype:
            return b, e
    return None


def parse_mp4(raw: bytes) -> dict:
    """ISO-BMFF bytes -> container metadata dict with keys ``brand``,
    ``duration_ms``, ``n_tracks``, ``has_video``, ``has_audio``,
    ``width``, ``height`` (video dims from the first video trak; None for
    a file with no video track). Raises Mp4Error on structural damage."""
    if len(raw) < 16:
        raise Mp4Error("too short for any box")
    top = list(_boxes(raw, 0, len(raw)))
    types = [t for t, _b, _e in top]
    if types[0] != b"ftyp":
        raise Mp4Error("first box is not ftyp")
    fb, fe = top[0][1], top[0][2]
    if fe - fb < 8:
        raise Mp4Error("short ftyp")
    brand = raw[fb : fb + 4].decode("ascii", "replace")
    moov = next(((b, e) for t, b, e in top if t == b"moov"), None)
    if moov is None:
        raise Mp4Error("no moov box")
    mb, me = moov

    mvhd = _find(raw, mb, me, b"mvhd", 1)
    if mvhd is None:
        raise Mp4Error("moov without mvhd")
    hb, he = mvhd
    if he - hb < 4:
        raise Mp4Error("short mvhd")
    version = raw[hb]
    if version == 0:
        if he - hb < 24:
            raise Mp4Error("short mvhd v0")
        timescale, duration = struct.unpack(">II", raw[hb + 12 : hb + 20])
    elif version == 1:
        if he - hb < 32:
            raise Mp4Error("short mvhd v1")
        (timescale,) = struct.unpack(">I", raw[hb + 20 : hb + 24])
        (duration,) = struct.unpack(">Q", raw[hb + 24 : hb + 32])
    else:
        raise Mp4Error(f"mvhd version {version}")
    if timescale == 0:
        raise Mp4Error("zero mvhd timescale")
    duration_ms = duration * 1000.0 / timescale

    n_tracks = 0
    has_video = False
    has_audio = False
    width = height = None
    for t, tb, te in _boxes(raw, mb, me, 1):
        if t != b"trak":
            continue
        n_tracks += 1
        handler = None
        mdia = _find(raw, tb, te, b"mdia", 2)
        if mdia is not None:
            hdlr = _find(raw, mdia[0], mdia[1], b"hdlr", 3)
            if hdlr is not None and hdlr[1] - hdlr[0] >= 12:
                handler = raw[hdlr[0] + 8 : hdlr[0] + 12]
        if handler == b"soun":
            has_audio = True
        if handler == b"vide":
            has_video = True
            if width is None:
                tkhd = _find(raw, tb, te, b"tkhd", 2)
                if tkhd is None:
                    raise Mp4Error("video trak without tkhd")
                kb, ke = tkhd
                if ke - kb < 1:  # the version byte itself is missing
                    raise Mp4Error("short tkhd")
                v = raw[kb]
                # 16.16 fixed-point width/height at FIXED spec offsets
                # (v0 body: 4 ver/flags + 72 = 76; v1: +12) — never
                # relative to the box END, which would read garbage from
                # any muxer's trailing padding while container_ok=True
                off = 76 if v == 0 else 88
                if v > 1:
                    raise Mp4Error(f"tkhd version {v}")
                if ke - kb < off + 8:
                    raise Mp4Error("short tkhd")
                w_fx, h_fx = struct.unpack(">II", raw[kb + off : kb + off + 8])
                width, height = w_fx / 65536.0, h_fx / 65536.0
    return {
        "brand": brand,
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
        "has_video": has_video,
        "has_audio": has_audio,
        "width": width,
        "height": height,
    }


# ---------------------------------------------------------------------------
# fixture builder
# ---------------------------------------------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def build_minimal_mp4(
    duration_ms: float = 1000.0,
    width: int | None = 640,
    height: int | None = 360,
    audio: bool = True,
    timescale: int = 1000,
    brand: bytes = b"isom",
) -> bytes:
    """Spec-shaped minimal ISO-BMFF file: ftyp + moov + empty mdat.
    ``width=None`` builds an audio-only file."""
    duration = int(round(duration_ms * timescale / 1000.0))
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3xIIII", 0, 0, 0, timescale, duration) + bytes(80),
    )
    traks = []

    def trak(handler: bytes, w: int = 0, h: int = 0) -> bytes:
        tkhd = _box(
            b"tkhd",
            struct.pack(">B3x", 0)
            + bytes(72)
            + struct.pack(">II", w << 16, h << 16),
        )
        hdlr = _box(b"hdlr", bytes(8) + handler + bytes(13))
        mdia = _box(b"mdia", hdlr)
        return _box(b"trak", tkhd + mdia)

    if width is not None:
        traks.append(trak(b"vide", width, height or 0))
    if audio:
        traks.append(trak(b"soun"))
    moov = _box(b"moov", mvhd + b"".join(traks))
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + b"isomiso2")
    return ftyp + moov + _box(b"mdat", b"")
