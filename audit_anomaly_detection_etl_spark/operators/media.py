"""Multimodal binary-column operators: audio features, image/video plumbing.

Training-data pipelines treat media as opaque ``binary`` columns with typed
metadata (the clips table IS that pattern for audio). This module gives each
modality a feature-extraction operator with REAL Spark plumbing — schema,
Arrow batching, partition preservation — and, since round 5, real stdlib
codecs for every byte layer a public spec makes expressible without an
external library:

- audio: fully real — decode via functions/codecs.py (pure numpy), then
  per-clip RMS / peak / zero-crossing-rate / duration, batch-vectorized with
  ``np.add.reduceat`` like operators/payload.py.
- image: fully real for PNG and baseline JPEG — header sniff plus pixel
  decode via functions/png.py (zlib inflate + numpy unfiltering) and
  functions/jpeg.py (Huffman + batched einsum IDCT), both bomb-safe,
  dispatched by container magic (``decoder='auto'``); malformed payloads
  degrade to ``decode_ok=False``.
- video: container metadata is real — ISO-BMFF box walk via
  functions/mp4.py (brand, duration, track types, dimensions) and the
  frame-sampling OFFSET plan (arithmetic over metadata). Frame decode is
  the ONE remaining deterministic stub: H.264-class codecs have no public
  stdlib-expressible decode, so ``decoder='stub'`` raises
  ``NotImplementedError`` honestly and ``decoder='fake'`` keeps the Spark
  contract (mapInPandas signature, output schema, batch shape) fully
  exercised by tests — swapping a real codec in is a one-function change
  on executors that already receive correct batches.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import codecs
from . import keyed_frame

AUDIO_FEATURE_METRICS = (
    "decode_ok boolean, n_samples long, rms double, peak double, zcr double, "
    "est_dur_ms double"
)

AUDIO_FEATURES_SCHEMA = "clip_id string, part int, " + AUDIO_FEATURE_METRICS

AUDIO_FEATURES_EXT_SCHEMA = AUDIO_FEATURES_SCHEMA + (
    ", dc_offset double, clip_ratio double, silence_ratio double"
)

# int16 full scale after the /32768 decode normalization: a sample at the
# positive rail is 32767/32768; anything at |x| >= this is a clipped sample
_CLIP_THRESHOLD = 32767.0 / 32768.0
_SILENCE_THRESHOLD = 1e-3  # ~-60 dBFS


def audio_feature_metrics(pdf: pd.DataFrame, extended: bool = False) -> dict:
    """The audio-features kernel over one Arrow batch (AUDIO_FEATURE_METRICS
    columns, plus dc_offset/clip_ratio/silence_ratio when ``extended``); see
    ``audio_features``. Float64 math."""
    n = len(pdf)
    raw_col = pdf["bytes"].to_numpy()
    codec_col = pdf["codec"].to_numpy()
    sr_col = pdf["sr_hz"].to_numpy(dtype=np.int64)
    decode_ok = np.zeros(n, dtype=bool)
    n_samples = np.zeros(n, dtype=np.int64)
    rms = np.full(n, np.nan)
    peak = np.full(n, np.nan)
    zcr = np.full(n, np.nan)
    dc = np.full(n, np.nan)
    clip_ratio = np.full(n, np.nan)
    sil_ratio = np.full(n, np.nan)

    for idx, lens, seg, pcm in codecs.codec_groups(raw_col, codec_col):
        pcm = pcm.astype(np.float64)
        decode_ok[idx] = True
        n_samples[idx] = lens
        energy = np.add.reduceat(pcm**2, seg)
        rms[idx] = np.sqrt(energy / lens)
        peak[idx] = np.maximum.reduceat(np.abs(pcm), seg)
        # sign changes between consecutive samples; the boundary pair
        # between two concatenated clips must not count -> subtract a
        # per-clip correction computed from the boundary values
        flips = (np.signbit(pcm[1:]) != np.signbit(pcm[:-1])).astype(np.float64)
        # pad so reduceat segments align with per-clip [start, end)
        flips = np.append(flips, 0.0)
        flip_counts = np.add.reduceat(flips, seg)
        # last flip slot of each clip pairs it with the NEXT clip: drop it
        ends = seg + lens - 1
        flip_counts -= flips[ends]
        zcr[idx] = np.where(lens > 1, flip_counts / (lens - 1), 0.0)
        if extended:
            a = np.abs(pcm)
            dc[idx] = np.add.reduceat(pcm, seg) / lens
            clip_ratio[idx] = (
                np.add.reduceat((a >= _CLIP_THRESHOLD).astype(np.float64), seg)
                / lens
            )
            sil_ratio[idx] = (
                np.add.reduceat((a < _SILENCE_THRESHOLD).astype(np.float64), seg)
                / lens
            )

    est_dur = np.where(
        decode_ok & (sr_col > 0), n_samples / np.maximum(sr_col, 1) * 1000.0, np.nan
    )
    out = {
        "decode_ok": decode_ok,
        "n_samples": n_samples,
        "rms": rms,
        "peak": peak,
        "zcr": zcr,
        "est_dur_ms": est_dur,
    }
    if extended:
        out.update(dc_offset=dc, clip_ratio=clip_ratio, silence_ratio=sil_ratio)
    return out


def audio_features(clips: DataFrame, extended: bool = False) -> DataFrame:
    """Per-clip audio features from decoded PCM — one ``mapInPandas`` pass,
    per-codec-group vectorized decode (same concatenation + ``reduceat``
    pattern as operators/payload.py; no per-sample Python).

    ``extended=True`` adds the recording-QA signals (same single pass, three
    more reduceat sums): ``dc_offset`` (mean sample — a biased ADC / bad
    trim), ``clip_ratio`` (fraction of samples at int16 full scale —
    hard-clipping), ``silence_ratio`` (fraction under ~-60 dBFS — dead air
    the silence-trim step should have removed).
    """

    def audio_features_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield keyed_frame(pdf, audio_feature_metrics(pdf, extended))

    pruned = clips.select("clip_id", "part", "bytes", "codec", "sr_hz")
    schema = AUDIO_FEATURES_EXT_SCHEMA if extended else AUDIO_FEATURES_SCHEMA
    return pruned.mapInPandas(audio_features_kernel, schema=schema)


# ---------------------------------------------------------------------------
# image
# ---------------------------------------------------------------------------

IMAGE_META_SCHEMA = "image_id string, format string, width int, height int, n_bytes long"

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def _sniff_image(raw: bytes) -> tuple[str | None, int | None, int | None]:
    """Container-header dimension sniff — pure byte arithmetic, no codec lib.

    PNG: IHDR is always the first chunk; width/height at offset 16/20.
    JPEG: walk markers to the first SOFn frame header.
    """
    if raw is None or len(raw) < 4:
        return None, None, None
    if raw.startswith(_PNG_MAGIC) and len(raw) >= 24:
        w, h = struct.unpack(">II", raw[16:24])
        return "png", int(w), int(h)
    if raw.startswith(_JPEG_MAGIC):
        i = 2
        while i + 9 < len(raw):
            if raw[i] != 0xFF:
                break
            marker = raw[i + 1]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", raw[i + 5 : i + 9])
                return "jpeg", int(w), int(h)
            seg_len = struct.unpack(">H", raw[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return "jpeg", None, None
    return None, None, None


def image_metadata(images: DataFrame, id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Header-only metadata extraction over a binary image column. Fully real
    (no pixel decode): format + dimensions from container headers.
    """

    def image_metadata_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [_sniff_image(r) for r in pdf[bytes_col].to_numpy()]
            yield pd.DataFrame(
                {
                    "image_id": pdf[id_col].to_numpy(),
                    "format": [m[0] for m in metas],
                    "width": pd.array([m[1] for m in metas], dtype="Int32"),
                    "height": pd.array([m[2] for m in metas], dtype="Int32"),
                    "n_bytes": [len(r) if r is not None else 0 for r in pdf[bytes_col].to_numpy()],
                }
            )

    return images.select(id_col, bytes_col).mapInPandas(
        image_metadata_kernel, schema=IMAGE_META_SCHEMA
    )


IMAGE_FEATURES_SCHEMA = (
    "image_id string, decode_ok boolean, width int, height int, mean_lum double"
)


def image_features(
    images: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    decoder: str = "auto",
) -> DataFrame:
    """Pixel-level features.

    - ``decoder='auto'`` (default): REAL pixel decode, dispatched by
      container magic — PNG via the stdlib codec (functions/png.py, zlib
      inflate + numpy unfiltering, CRC-verified) and baseline JPEG via the
      stdlib codec (functions/jpeg.py, Huffman + batched einsum IDCT).
      ``'png'`` / ``'jpeg'`` force one codec. ``mean_lum`` is Rec.601 luma
      (0.299R+0.587G+0.114B, alpha ignored) over [0,1]-scaled pixels.
      Unrecognized, malformed and out-of-scope payloads (e.g. progressive
      JPEG) get ``decode_ok=False`` — never an exception, never wrong
      pixels (fuzz-tested over mutated streams, tests/test_png.py and
      tests/test_jpeg.py; both codecs refuse decompression bombs at an
      IHDR/SOF-derived bound before allocating).
    - ``decoder='stub'`` raises on executors — the honest marker for the
      one decode left without a public stdlib-expressible codec here
      (video frames; see frame_sample_plan).
    - ``decoder='fake'`` is a deterministic pure-numpy pixel source keyed
      on the payload digest so the full Spark path (schema, batching,
      nullability) is testable independent of any codec.
    """
    if decoder not in ("auto", "png", "jpeg", "stub", "fake"):
        raise ValueError(f"unknown decoder: {decoder!r}")

    def image_features_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.jpeg import JpegError, decode_jpeg
        from ..functions.png import PngError, decode_png

        def _route(raw: bytes):
            if decoder == "png" or (
                decoder == "auto" and raw.startswith(_PNG_MAGIC)
            ):
                return decode_png(raw)
            if decoder == "jpeg" or (
                decoder == "auto" and raw.startswith(_JPEG_MAGIC)
            ):
                return decode_jpeg(raw)
            return None  # auto: unrecognized container

        for pdf in it:
            raws = pdf[bytes_col].to_numpy()
            ok = np.zeros(len(pdf), dtype=bool)
            w = np.zeros(len(pdf), dtype=np.int32)
            h = np.zeros(len(pdf), dtype=np.int32)
            lum = np.full(len(pdf), np.nan)
            for i, raw in enumerate(raws):
                if raw is None:
                    continue
                if decoder == "stub":
                    raise NotImplementedError(
                        "pixel decode requires a codec library not present in "
                        "this environment; PNG/JPEG decode natively via "
                        "decoder='auto', use decoder='fake' for plumbing tests"
                    )
                if decoder != "fake":
                    try:
                        px = _route(bytes(raw))
                    except (PngError, JpegError):
                        continue  # decode_ok stays False
                    if px is None:
                        continue
                    hh, ww, ch = px.shape
                    ok[i], w[i], h[i] = True, ww, hh
                    if ch >= 3:
                        rgb = px[:, :, :3].astype(np.float64) / 255.0
                        lum[i] = float(
                            rgb[:, :, 0].mean() * 0.299
                            + rgb[:, :, 1].mean() * 0.587
                            + rgb[:, :, 2].mean() * 0.114
                        )
                    else:
                        lum[i] = float(px[:, :, 0].mean() / 255.0)
                    continue
                # deterministic fake: pixels from a seeded generator keyed on
                # the payload bytes (stable across executors/runs)
                seed = np.frombuffer(raw[:8].ljust(8, b"\0"), dtype=np.uint64)[0]
                rng = np.random.default_rng(seed)
                wh = 8 + int(seed % 25)
                px = rng.random((wh, wh))
                ok[i], w[i], h[i] = True, wh, wh
                lum[i] = float(px.mean())
            yield pd.DataFrame(
                {
                    "image_id": pdf[id_col].to_numpy(),
                    "decode_ok": ok,
                    "width": w,
                    "height": h,
                    "mean_lum": lum,
                }
            )

    return images.select(id_col, bytes_col).mapInPandas(
        image_features_kernel, schema=IMAGE_FEATURES_SCHEMA
    )


# ---------------------------------------------------------------------------
# video
# ---------------------------------------------------------------------------

VIDEO_METADATA_SCHEMA = (
    "video_id string, container_ok boolean, brand string, dur_ms double, "
    "n_tracks int, has_video boolean, has_audio boolean, width double, "
    "height double, parse_error string"
)


def video_metadata(
    videos: DataFrame, id_col: str = "video_id", bytes_col: str = "bytes"
) -> DataFrame:
    """REAL ISO-BMFF (MP4/MOV) container-layer parse over a binary video
    column (functions/mp4.py: box walk, brand, mvhd duration, per-trak
    handler types, tkhd video dimensions) — the video analogue of the WAV
    container check: producer-side container damage (truncated boxes,
    missing moov, zero timescale) surfaces as ``container_ok=False`` +
    ``parse_error`` without any codec library. Frame *decode* remains the
    one stubbed step (see image_features / frame_sample_plan)."""

    def video_metadata_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.mp4 import Mp4Error, parse_mp4

        for pdf in it:
            out = {
                "video_id": pdf[id_col].to_numpy(),
                "container_ok": [],
                "brand": [],
                "dur_ms": [],
                "n_tracks": [],
                "has_video": [],
                "has_audio": [],
                "width": [],
                "height": [],
                "parse_error": [],
            }
            for raw in pdf[bytes_col].to_numpy():
                try:
                    if raw is None:
                        raise Mp4Error("null payload")
                    m = parse_mp4(bytes(raw))
                    vals = (True, m["brand"], m["duration_ms"], m["n_tracks"],
                            m["has_video"], m["has_audio"], m["width"],
                            m["height"], None)
                except Mp4Error as e:
                    vals = (False, None, None, None, None, None, None, None,
                            str(e))
                for k, v in zip(
                    ("container_ok", "brand", "dur_ms", "n_tracks",
                     "has_video", "has_audio", "width", "height",
                     "parse_error"),
                    vals,
                ):
                    out[k].append(v)
            out["n_tracks"] = pd.array(out["n_tracks"], dtype="Int32")
            yield pd.DataFrame(out)

    return videos.select(id_col, bytes_col).mapInPandas(
        video_metadata_kernel, schema=VIDEO_METADATA_SCHEMA
    )


FRAME_PLAN_SCHEMA = "video_id string, frame_idx int, ts_ms double"


def frame_sample_plan(
    videos: DataFrame,
    fps_col: str = "fps",
    dur_col: str = "dur_ms",
    id_col: str = "video_id",
    every_ms: float = 1000.0,
) -> DataFrame:
    """Frame-sampling plan: one output row per sampled frame (UDTF-style
    explode) computed purely from metadata — REAL. The downstream frame
    *decode* is the stubbed step (same contract as ``image_features``).

    Native-only: sequence + explode; no Python.
    """
    from pyspark.sql import functions as F

    n_frames = (F.col(dur_col) / F.lit(every_ms)).cast("int")
    return (
        videos
        # NULL/zero/negative duration: greatest(NULL-1, 0) = 0 (greatest
        # skips NULLs) would emit a phantom frame_idx=0 row for a video with
        # no known duration — exclude those rows instead; every video with a
        # positive duration still gets >= 1 frame via the greatest guard
        .where(F.col(dur_col).isNotNull() & (F.col(dur_col) > 0))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))).alias("k"),
            F.col(fps_col),
        )
        .select(
            F.col(id_col).alias("video_id"),
            F.round(F.col("k") * F.lit(every_ms) / 1000.0 * F.col(fps_col)).cast("int").alias(
                "frame_idx"
            ),
            (F.col("k") * F.lit(every_ms)).cast("double").alias("ts_ms"),
        )
    )


WAV_METADATA_SCHEMA = (
    "clip_id string, part int, wav_ok boolean, container_sr int, "
    "container_codec string, n_channels int, container_n_samples long, "
    "container_dur_ms double, parse_error string"
)


def wav_metadata(wavs: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes") -> DataFrame:
    """Container metadata extracted from WAV/RIFF payloads — header walk
    only, samples are never decoded (functions/codecs.py parse_wav). One
    ``mapInPandas`` pass; O(#chunks) per clip, no per-sample work.
    """

    def wav_metadata_kernel(it):
        for pdf in it:
            rows = []
            for cid, part, raw in zip(
                pdf[id_col], pdf.get("part", pd.Series([None] * len(pdf))), pdf[bytes_col]
            ):
                rec = {
                    "clip_id": cid, "part": part, "wav_ok": False,
                    "container_sr": None, "container_codec": None,
                    "n_channels": None, "container_n_samples": None,
                    "container_dur_ms": None, "parse_error": None,
                }
                try:
                    m = codecs.parse_wav(raw if raw is not None else b"")
                    rec.update(
                        wav_ok=True,
                        container_sr=m["sr_hz"],
                        container_codec=m["codec"],
                        n_channels=m["n_channels"],
                        container_n_samples=m["n_samples"],
                        container_dur_ms=(
                            1000.0 * m["n_samples"] / m["sr_hz"] if m["sr_hz"] else None
                        ),
                    )
                except ValueError as e:
                    rec["parse_error"] = str(e)
                rows.append(rec)
            yield pd.DataFrame(rows)

    cols = [id_col, bytes_col] + (["part"] if "part" in wavs.columns else [])
    return wavs.select(*cols).mapInPandas(wav_metadata_kernel, WAV_METADATA_SCHEMA)


def wav_consistency_violations(
    wavs: DataFrame,
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
    codec_col: str = "codec",
    dur_tol_ms: float = 1.0,
) -> DataFrame:
    """Payload-level schema drift: the WAV container's OWN declared metadata
    must agree with the table's declared columns. Emits violation rows
    (VIOLATION_SCHEMA) for: unparseable container, sample-rate mismatch,
    codec mismatch, duration off by more than ``dur_tol_ms``.

    This is the container analogue of the scan-time width check (SURVEY.md
    S4): the table *says* 16 kHz ulaw 400 ms; the bytes say otherwise ->
    the row is quarantined before any training pipeline trusts either.
    """
    from pyspark.sql import functions as F

    meta = wav_metadata(wavs)
    declared = wavs.select(
        F.col("clip_id"),
        F.col(sr_col).alias("_sr"),
        F.col(dur_col).alias("_dur"),
        F.col(codec_col).alias("_codec"),
    )
    j = meta.join(declared, "clip_id")
    checks = [
        (
            ~F.col("wav_ok"),
            F.lit("wav_unparseable"),
            F.concat(F.lit("container: "), F.coalesce(F.col("parse_error"), F.lit("?"))),
            5.0,
        ),
        (
            # null-guarded like the dur check below: a NULL declared sample
            # rate is unverifiable -> violation, not a three-valued-logic
            # silent pass (NULL != x is NULL and emits nothing)
            F.col("wav_ok")
            & (
                F.col("container_sr").isNull()
                | F.col("_sr").isNull()
                | (F.col("container_sr") != F.col("_sr"))
            ),
            F.lit("wav_sr_mismatch"),
            F.concat(
                F.lit("table says "),
                F.coalesce(F.col("_sr").cast("string"), F.lit("(null)")),
                F.lit(" Hz, container says "),
                F.coalesce(F.col("container_sr").cast("string"), F.lit("(null)")),
            ),
            3.0,
        ),
        (
            F.col("wav_ok")
            & (
                F.col("container_codec").isNull()
                | F.col("_codec").isNull()
                | (F.col("container_codec") != F.col("_codec"))
            ),
            F.lit("wav_codec_mismatch"),
            F.concat(
                F.lit("table says "),
                F.coalesce(F.col("_codec"), F.lit("(null)")),
                F.lit(", container says "),
                F.coalesce(F.col("container_codec"), F.lit("(unknown tag)")),
            ),
            3.0,
        ),
        (
            # null-guarded: a container that parses with sr=0 has a NULL
            # duration, and a NULL declared duration is equally unverifiable
            # — both are violations, not silent passes (abs(NULL-x) > tol
            # would be NULL and emit nothing)
            F.col("wav_ok")
            & (
                F.col("container_dur_ms").isNull()
                | F.col("_dur").isNull()
                | (F.abs(F.col("container_dur_ms") - F.col("_dur")) > dur_tol_ms)
            ),
            F.lit("wav_dur_mismatch"),
            F.concat(
                F.lit("table says "),
                F.coalesce(F.col("_dur").cast("string"), F.lit("(null)")),
                F.lit(" ms, container has "),
                F.coalesce(
                    F.round("container_dur_ms", 1).cast("string"), F.lit("(null)")
                ),
            ),
            2.0,
        ),
    ]
    structs = F.array(
        *[
            F.when(cond, F.struct(check.alias("check"), detail.alias("detail"), F.lit(sev).alias("severity")))
            for cond, check, detail, sev in checks
        ]
    )
    return (
        j.select(
            F.col("clip_id").alias("key"),
            F.col("part"),
            F.explode(F.filter(structs, lambda s: s.isNotNull())).alias("v"),
        )
        .select(
            "key",
            F.col("v.check").alias("check"),
            F.col("v.detail").alias("detail"),
            F.col("part").cast("int").alias("part"),
            F.col("v.severity").alias("severity"),
        )
        .select("key", "check", "detail", "part", "severity")
    )


RESAMPLE_SCHEMA = (
    "clip_id string, part int, ok boolean, sr_hz int, n_samples long, bytes binary"
)


def resample_audio(
    clips: DataFrame, target_sr: int = 16000, out_codec: str = "pcm_s16le"
) -> DataFrame:
    """Normalize every clip to one sample rate (the standard training-data
    prep step): decode -> linear resample -> re-encode as ``out_codec``.

    One ``mapInPandas`` pass. Decode batches per codec group like
    audio_features; the resample itself is ``np.interp`` per clip (sample
    loop stays in numpy). Undecodable clips come back ok=false with null
    bytes — the caller quarantines them, the stage never throws.
    """

    def resample_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for cid, part, raw, sr, codec in zip(
                pdf["clip_id"], pdf.get("part", pd.Series([None] * len(pdf))),
                pdf["bytes"], pdf["sr_hz"], pdf["codec"],
            ):
                try:
                    if raw is None or len(raw) == 0:
                        # an empty payload "decodes" to zero samples; emitting
                        # it ok=true would hand downstream a zero-length
                        # training clip instead of quarantining it
                        raise ValueError("empty payload")
                    pcm = codecs.decode(raw, codec)
                    out = codecs.resample_linear(pcm, int(sr), target_sr)
                    rows.append((cid, part, True, target_sr, len(out), codecs.encode(out, out_codec)))
                except (ValueError, KeyError, TypeError, ZeroDivisionError):
                    # TypeError covers NULL sr_hz (int(None)/int(pd.NA))
                    rows.append((cid, part, False, target_sr, 0, None))
            yield pd.DataFrame(
                rows, columns=["clip_id", "part", "ok", "sr_hz", "n_samples", "bytes"]
            )

    cols = ["clip_id", "bytes", "sr_hz", "codec"] + (
        ["part"] if "part" in clips.columns else []
    )
    return clips.select(*cols).mapInPandas(resample_kernel, RESAMPLE_SCHEMA)


TRIM_SCHEMA = (
    "clip_id string, part int, ok boolean, start_ms double, end_ms double, "
    "active_ratio double, n_frames long"
)


def trim_silence_bounds(
    clips: DataFrame,
    threshold_db: float = -40.0,
    frame_ms: float = 20.0,
) -> DataFrame:
    """Leading/trailing-silence trim boundaries per clip (dataset prep: cut
    dead air before training). Frame RMS in ``frame_ms`` windows; a frame is
    active above ``threshold_db`` dBFS; bounds = first..last active frame.

    One ``mapInPandas`` pass; framing/energy/argmax are numpy over the whole
    clip (python cost per clip, never per sample or per frame). A fully
    silent clip returns start_ms = end_ms = 0 with active_ratio 0 — callers
    can quarantine or drop it.
    """

    def trim_silence_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for cid, part, raw, sr, codec in zip(
                pdf["clip_id"], pdf.get("part", pd.Series([None] * len(pdf))),
                pdf["bytes"], pdf["sr_hz"], pdf["codec"],
            ):
                try:
                    pcm = codecs.decode(raw if raw is not None else b"", codec).astype(np.float64)
                    f = max(int(round(int(sr) * frame_ms / 1000.0)), 1)
                    n_frames = (len(pcm) + f - 1) // f
                    if n_frames == 0:
                        rows.append((cid, part, True, 0.0, 0.0, 0.0, 0))
                        continue
                    padded = np.zeros(n_frames * f)
                    padded[: len(pcm)] = pcm
                    frame_rms = np.sqrt((padded.reshape(n_frames, f) ** 2).mean(axis=1))
                    db = 20.0 * np.log10(frame_rms + 1e-12)
                    active = db > threshold_db
                    if active.any():
                        first = int(np.argmax(active))
                        last = n_frames - int(np.argmax(active[::-1]))  # exclusive
                        start_ms = first * frame_ms
                        end_ms = min(last * frame_ms, len(pcm) / int(sr) * 1000.0)
                        ratio = float(active.mean())
                    else:
                        start_ms = end_ms = 0.0
                        ratio = 0.0
                    rows.append((cid, part, True, start_ms, end_ms, ratio, n_frames))
                except (ValueError, KeyError, ZeroDivisionError):
                    rows.append((cid, part, False, None, None, None, 0))
            yield pd.DataFrame(
                rows,
                columns=["clip_id", "part", "ok", "start_ms", "end_ms", "active_ratio", "n_frames"],
            )

    cols = ["clip_id", "bytes", "sr_hz", "codec"] + (
        ["part"] if "part" in clips.columns else []
    )
    return clips.select(*cols).mapInPandas(trim_silence_kernel, TRIM_SCHEMA)


# ---------------------------------------------------------------------------
# training-window slicing
# ---------------------------------------------------------------------------

SEGMENT_SLICE_SCHEMA = (
    "clip_id string, part int, seg_idx int, start_samp long, end_samp long, "
    "n_bytes long, slice_ok boolean"
)


def slice_segments(
    clips: DataFrame,
    window_ms: int = 5_000,
    hop_ms: int = 2_500,
    emit_bytes: bool = False,
) -> DataFrame:
    """Materialize the training windows ``packing.segment_plan`` describes:
    slice each clip's payload into overlapping ``window_ms`` segments
    advancing by ``hop_ms``, cutting on exact sample boundaries (never
    mid-sample — a torn int16/float32 would corrupt every later sample).

    Window geometry is computed from the ACTUAL decodable sample count
    (``len(bytes) // bytes_per_sample``), not the declared ``dur_ms`` — a
    truncated payload must yield short real segments, not fantasy ones.
    Same ``k_max = ceil((n - window) / hop)`` coverage rule as
    ``segment_plan``. Clips whose payload cannot be sliced (unknown codec,
    byte length not a multiple of the sample width, ``sr_hz <= 0``) emit a
    single ``seg_idx = -1, slice_ok = false`` row so violations stay
    visible downstream instead of vanishing.

    One ``mapInPandas`` pass; segment counts/boundaries are computed with
    numpy and the cut itself is C-level ``bytes`` slicing — the only
    Python-level per-row work is slice bookkeeping, same budget as
    payload.py's byte-length probing. With ``emit_bytes=True`` the sliced
    payload is attached (output ~= window/hop x input bytes — the caller
    owns that amplification); default emits geometry only.
    """
    if window_ms <= 0 or hop_ms <= 0:
        raise ValueError("window_ms and hop_ms must be positive")

    schema = SEGMENT_SLICE_SCHEMA + (", bytes binary" if emit_bytes else "")

    def slice_segments_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list = []
            parts: list = []
            seg_idx: list = []
            start_samp: list = []
            end_samp: list = []
            n_bytes: list = []
            ok: list = []
            payloads: list = []
            raw_col = pdf["bytes"].to_numpy()
            codec_col = pdf["codec"].to_numpy()
            sr_col = pdf["sr_hz"].to_numpy(dtype=np.int64)
            id_col = pdf["clip_id"].to_numpy()
            part_col = pdf["part"].to_numpy()
            for i in range(len(pdf)):
                raw = raw_col[i]
                codec = codec_col[i]
                sr = int(sr_col[i])
                byte_len = len(raw) if raw is not None else -1
                sliceable = (
                    codec in codecs.CODECS
                    and sr > 0
                    and byte_len > 0
                    and byte_len % codecs.bytes_per_sample(codec) == 0
                )
                if not sliceable:
                    ids.append(id_col[i])
                    parts.append(part_col[i])
                    seg_idx.append(-1)
                    start_samp.append(0)
                    end_samp.append(0)
                    n_bytes.append(max(byte_len, 0))
                    ok.append(False)
                    payloads.append(b"")
                    continue
                bps = codecs.bytes_per_sample(codec)
                n_samp = byte_len // bps
                w = max(1, int(round(window_ms * sr / 1000.0)))
                h = max(1, int(round(hop_ms * sr / 1000.0)))
                k_max = 0 if n_samp <= w else -(-(n_samp - w) // h)
                for k in range(k_max + 1):
                    a = k * h
                    b = min(a + w, n_samp)
                    ids.append(id_col[i])
                    parts.append(part_col[i])
                    seg_idx.append(k)
                    start_samp.append(a)
                    end_samp.append(b)
                    n_bytes.append((b - a) * bps)
                    ok.append(True)
                    if emit_bytes:
                        payloads.append(raw[a * bps : b * bps])
            out = {
                "clip_id": np.asarray(ids, dtype=object),
                "part": np.asarray(parts, dtype=np.int32),
                "seg_idx": np.asarray(seg_idx, dtype=np.int32),
                "start_samp": np.asarray(start_samp, dtype=np.int64),
                "end_samp": np.asarray(end_samp, dtype=np.int64),
                "n_bytes": np.asarray(n_bytes, dtype=np.int64),
                "slice_ok": np.asarray(ok, dtype=bool),
            }
            if emit_bytes:
                out["bytes"] = pd.Series(payloads, dtype=object)
            yield pd.DataFrame(out)

    pruned = clips.select("clip_id", "part", "bytes", "codec", "sr_hz")
    return pruned.mapInPandas(slice_segments_kernel, schema=schema)


# codecs.decode returns normalized float PCM in [-1, 1) -> full scale is 1.0
_FULL_SCALE = 1.0


def loudness_audit(
    features: DataFrame,
    target_dbfs: float = -20.0,
    tolerance_db: float = 1.0,
) -> DataFrame:
    """Normalization-gain / clipping-headroom audit over audio_features
    output — pure Catalyst on the already-decoded per-clip RMS and peak (no
    second decode pass; compose ``loudness_audit(audio_features(clips))``
    and the two fuse into one mapInPandas + one projection).

    Per clip: ``rms_dbfs``/``peak_dbfs`` (20*log10(x / 1.0) — codecs.decode
    returns normalized float PCM in [-1, 1), see ``_FULL_SCALE``), the
    ``gain_db`` that would move RMS to ``target_dbfs``, the available
    ``headroom_db`` before the peak hits full scale, and a verdict:

    - ``ok``          |gain| <= tolerance_db — already at target loudness
    - ``boost``       needs gain up and the peak survives it
    - ``boost_clips`` needs gain up but gain > headroom: normalizing this
      clip WOULD hard-clip — it must be limited or rejected, the exact rows
      a loudness-normalizing training pipeline has to quarantine
    - ``attenuate``   needs gain down (always safe)
    - ``undecodable`` decode failed or the clip is digital silence (rms=0,
      dBFS undefined)
    """
    cols = loudness_cols(F.col, target_dbfs, tolerance_db)
    return features.select("clip_id", "part", *[c.alias(k) for k, c in cols.items()])


def loudness_cols(m, target_dbfs: float, tolerance_db: float) -> dict:
    """``loudness_audit``'s output columns as Catalyst expressions over the
    audio-features columns, ``m(name)`` resolving each input column."""
    rms, peak = m("rms"), m("peak")
    rms_db = F.lit(20.0) * F.log10(rms / F.lit(_FULL_SCALE))
    peak_db = F.lit(20.0) * F.log10(peak / F.lit(_FULL_SCALE))
    gain = F.lit(target_dbfs) - rms_db
    headroom = -peak_db
    bad = ~m("decode_ok") | rms.isNull() | F.isnan(rms) | (rms <= 0)
    verdict = (
        F.when(bad, F.lit("undecodable"))
        .when(F.abs(gain) <= tolerance_db, F.lit("ok"))
        .when((gain > 0) & (gain > headroom), F.lit("boost_clips"))
        .when(gain > 0, F.lit("boost"))
        .otherwise(F.lit("attenuate"))
    )
    null_if_bad = lambda c: F.when(~bad, c)  # noqa: E731
    return {
        "rms_dbfs": F.round(null_if_bad(rms_db), 6),
        "peak_dbfs": F.round(null_if_bad(peak_db), 6),
        "gain_db": F.round(null_if_bad(gain), 6),
        "headroom_db": F.round(null_if_bad(headroom), 6),
        "verdict": verdict,
    }


TRANSCODE_QA_SCHEMA = (
    "clip_id string, part int, transcode_ok boolean, snr_db double, verdict string"
)

# err == 0 (bit-exact round trip) would be +inf dB; cap so the column stays
# a plain double for parquet/compare purposes
_SNR_CAP_DB = 120.0


def transcode_qa(
    clips: DataFrame,
    target_codec: str = "ulaw",
    min_snr_db: float = 25.0,
    transparent_snr_db: float = 40.0,
) -> DataFrame:
    """Round-trip transcode fidelity audit: decode each clip, re-encode to
    ``target_codec``, decode again, and report per-clip SNR of the round
    trip — run BEFORE a pipeline bulk-transcodes a corpus to a cheaper
    codec, to find the clips the lossy target mangles (hot signals near
    full scale saturate G.711's companding; already-quiet clips lose
    mantissa bits).

    Same vectorization discipline as audio_features/payload: per-codec-group
    concatenated decode, ONE vectorized encode+decode of the concatenation
    (both G.711 kernels are samplewise-stateless, so concatenation is
    transparent), and per-clip SNR from two ``np.add.reduceat`` sums —
    no per-row Python. Verdicts: ``transparent`` (snr >= 40 dB, capped at
    120 for bit-exact trips), ``acceptable`` (>= min_snr_db), ``degraded``,
    ``undecodable``.

    STATEFUL targets (``codecs.STATEFUL_TRANSCODE_CODECS``, e.g. the 4-bit
    ``adpcm_dvi``): the predictor recurrence makes concatenated encoding
    wrong at every clip boundary, so the round trip runs per clip — one C
    kernel call per clip, still never per-sample Python. ADPCM decode
    returns an even sample count (odd inputs are zero-padded at encode);
    the trailing pad sample is trimmed before the SNR sums.
    """
    stateful = target_codec in codecs.STATEFUL_TRANSCODE_CODECS

    def transcode_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            raw_col = pdf["bytes"].to_numpy()
            codec_col = pdf["codec"].to_numpy()
            ok = np.zeros(n, dtype=bool)
            snr = np.full(n, np.nan)
            for idx, lens, seg, ref in codecs.codec_groups(raw_col, codec_col):
                ref = ref.astype(np.float64)
                if stateful:
                    rt = np.empty_like(ref)
                    for k in range(idx.size):
                        a, m = int(seg[k]), int(lens[k])
                        dec = codecs.decode(
                            codecs.encode(ref[a : a + m], target_codec),
                            target_codec,
                        )
                        rt[a : a + m] = dec[:m]
                else:
                    rt = codecs.decode(
                        codecs.encode(ref, target_codec), target_codec
                    ).astype(np.float64)
                sig = np.add.reduceat(ref * ref, seg)
                err = np.add.reduceat((ref - rt) * (ref - rt), seg)
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = 10.0 * np.log10(sig / err)
                s = np.where(err <= 0, _SNR_CAP_DB, np.minimum(s, _SNR_CAP_DB))
                # zero-signal clips: SNR undefined -> leave NaN, not ok
                ok[idx] = sig > 0
                snr[idx] = np.where(sig > 0, s, np.nan)
            verdict = np.where(
                ~ok,
                "undecodable",
                np.where(
                    snr >= transparent_snr_db,
                    "transparent",
                    np.where(snr >= min_snr_db, "acceptable", "degraded"),
                ),
            )
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"].to_numpy(),
                    "part": pdf["part"].to_numpy(),
                    "transcode_ok": ok,
                    "snr_db": np.round(snr, 6),
                    "verdict": verdict,
                }
            )

    pruned = clips.select("clip_id", "part", "bytes", "codec")
    return pruned.mapInPandas(transcode_kernel, schema=TRANSCODE_QA_SCHEMA)


def bandwidth_audit(
    features: DataFrame,
    clips: DataFrame,
    min_bw_ratio: float = 0.05,
    silence_rms: float = 1e-4,
) -> DataFrame:
    """Upsampled-content detector: estimate each clip's effective bandwidth
    from its zero-crossing rate and compare it to the Nyquist budget the
    declared sample rate is paying for.

    For a dominant tone at f, ZCR = 2f/sr, so ``est_bw_hz = zcr * sr / 2``
    is the standard cheap spectral-centroid proxy (no FFT). A clip whose
    ``bw_ratio = est_bw_hz / (sr/2)`` is tiny carries content band-limited
    far below its container rate — a 300 Hz hum stored at 48 kHz, or 8 kHz
    telephone audio naively upsampled to 48 kHz to pass a sample-rate
    constraint: storage fraud a pipeline should catch before paying 6x the
    bytes for it. Near-silent clips (rms < silence_rms) are exempt: ZCR of
    noise-floor dithering is meaningless.

    Pure Catalyst over the audio_features output joined back to the
    declared sr (no second decode); compose over one shared
    ``audio_features`` pass. Returns (clip_id, part, sr_hz, est_bw_hz,
    bw_ratio, band_limited).
    """
    # Duplicate clip_ids (ingest replays — the synth injector plants ~0.5%,
    # real tables have them too) would fan out k dup feature rows × k dup
    # declared-rate rows = k^2 report rows; collapse the declared side to one
    # row per clip_id first (2-column shuffle, narrow at any scale).
    # min(sr_hz), not dropDuplicates: duplicates with CONFLICTING declared
    # rates would otherwise keep whichever row the shuffle delivers first and
    # flip band_limited between runs — min is deterministic and, being the
    # lowest declared rate, the most conservative band-limit denominator
    # (conflicting metadata itself is the uniqueness/key-hygiene checks' job).
    decl = clips.groupBy("clip_id").agg(F.min("sr_hz").alias("sr_hz"))
    j = features.select("clip_id", "part", "decode_ok", "rms", "zcr").join(
        decl, "clip_id"
    )
    est_bw = F.col("zcr") * F.col("sr_hz").cast("double") / F.lit(2.0)
    ratio = est_bw / (F.col("sr_hz").cast("double") / F.lit(2.0))
    measurable = (
        F.col("decode_ok")
        & F.col("rms").isNotNull()
        & ~F.isnan("rms")
        & (F.col("rms") >= silence_rms)
        & (F.col("sr_hz") > 0)
    )
    return j.select(
        "clip_id",
        "part",
        "sr_hz",
        F.round(F.when(measurable, est_bw), 6).alias("est_bw_hz"),
        F.round(F.when(measurable, ratio), 6).alias("bw_ratio"),
        F.coalesce(measurable & (ratio < F.lit(min_bw_ratio)), F.lit(False)).alias(
            "band_limited"
        ),
    )


# ---------------------------------------------------------------------------
# interior dropouts (mid-clip digital-silence runs)
# ---------------------------------------------------------------------------

DROPOUT_METRICS = (
    "decode_ok boolean, n_dropouts int, max_dropout_ms double, dropout_ms_total double"
)

DROPOUT_AUDIT_SCHEMA = "clip_id string, part int, " + DROPOUT_METRICS

# Digital-silence gate for dropout runs: above A-law's zero-code output
# (decode(encode(0)) = 1/4096 ~ 2.44e-4 -- A-law has no true zero code) and
# below the quietest representable non-silent content (a 1e-3 ~ -60 dBFS
# sample decodes to >= 9.77e-4 in every codec here). A zeroed buffer pushed
# through ANY of the four codecs lands under this gate; quiet speech does
# not.
_DROPOUT_ZERO_EPS = 4e-4


def dropout_metrics(
    pdf: pd.DataFrame, min_run_ms: float = 30.0, zero_eps: float = _DROPOUT_ZERO_EPS
) -> dict:
    """The dropout check's kernel over one Arrow batch (DROPOUT_METRICS
    columns); see ``dropout_audit``. Float32 math."""
    n = len(pdf)
    raw_col = pdf["bytes"].to_numpy()
    codec_col = pdf["codec"].to_numpy()
    sr_col = pdf["sr_hz"].to_numpy(dtype=np.int64)
    decode_ok = np.zeros(n, dtype=bool)
    n_drop = np.zeros(n, dtype=np.int32)
    max_ms = np.zeros(n, dtype=np.float64)
    tot_ms = np.zeros(n, dtype=np.float64)
    for idx, lens, seg, pcm in codecs.codec_groups(raw_col, codec_col):
        decode_ok[idx] = True
        last = seg + lens - 1
        # NaN payloads (pcm_f32le corruption) compare False and so
        # terminate silence runs -- they are the payload check's job
        m = np.abs(pcm) <= zero_eps
        if not m.any():
            continue
        prev = np.empty_like(m)
        prev[0] = False
        prev[1:] = m[:-1]
        prev[seg] = False  # a clip start always opens a fresh run
        starts = np.flatnonzero(m & ~prev)
        nxt = np.empty_like(m)
        nxt[-1] = False
        nxt[:-1] = m[1:]
        nxt[last] = False  # a clip end always closes its run
        ends = np.flatnonzero(m & ~nxt)
        clip_of = np.searchsorted(seg, starts, side="right") - 1
        srv = sr_col[idx].astype(np.float64)
        run_ms = (
            (ends - starts + 1).astype(np.float64)
            / np.maximum(srv[clip_of], 1.0)
            * 1000.0
        )
        # interior = strictly inside the clip; sr<=0 clips are the
        # schema check's problem, not reportable in milliseconds
        sel = (
            (starts > seg[clip_of])
            & (ends < last[clip_of])
            & (run_ms >= min_run_ms)
            & (srv[clip_of] > 0)
        )
        if not sel.any():
            continue
        tgt = idx[clip_of[sel]]
        np.add.at(n_drop, tgt, 1)
        np.add.at(tot_ms, tgt, run_ms[sel])
        np.maximum.at(max_ms, tgt, run_ms[sel])
    return {
        "decode_ok": decode_ok,
        "n_dropouts": n_drop,
        "max_dropout_ms": np.where(decode_ok, max_ms, np.nan),
        "dropout_ms_total": np.where(decode_ok, tot_ms, np.nan),
    }


def dropout_audit(
    clips: DataFrame,
    min_run_ms: float = 30.0,
    zero_eps: float = _DROPOUT_ZERO_EPS,
) -> DataFrame:
    """Interior-dropout detection: contiguous runs of digital silence
    (``|sample| <= zero_eps``) lasting at least ``min_run_ms`` that start
    AFTER the clip's first sample and end BEFORE its last — the signature
    of buffer underruns / network dropouts / bad splices introduced by the
    ingestion chain, which the global ``silence_ratio`` signal
    (audio_features) cannot distinguish from legitimate room tone.

    Boundary-touching silence is deliberately NOT counted: leading/trailing
    silence is a trim-policy question (``trim_silence_bounds``) and an
    all-zero clip is digital silence (``loudness_audit``'s ``undecodable``
    verdict owns it). This check owns only the mid-clip gap class.

    Reference analogue: the per-event value-anomaly flags (SURVEY.md A10) —
    content-level corruption the schema/byte-length tiers cannot see.

    Scale notes: same single ``mapInPandas`` decode pass as
    ``audio_features`` (per-codec-group concatenated decode, no per-sample
    Python). Run extraction is vectorized run-length encoding over the
    concatenated silence mask with clip boundaries forced closed — runs
    never merge across adjacent clips in a batch — and per-clip aggregation
    runs over the (few) run records via ``np.add.at`` / ``np.maximum.at``,
    never over samples.
    """

    def dropout_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield keyed_frame(pdf, dropout_metrics(pdf, min_run_ms, zero_eps))

    pruned = clips.select("clip_id", "part", "bytes", "codec", "sr_hz")
    return pruned.mapInPandas(dropout_kernel, schema=DROPOUT_AUDIT_SCHEMA)


# ---------------------------------------------------------------------------
# synthetic narrowband tones (test signals / IVR beeps / placeholder audio)
# ---------------------------------------------------------------------------

TONAL_METRICS = (
    "decode_ok boolean, n_used int, spectral_flatness double, dominant_hz double, "
    "dominant_share double, tonal boolean"
)

TONAL_AUDIT_SCHEMA = "clip_id string, part int, " + TONAL_METRICS

# Hann-windowed spectral flatness (geometric mean / arithmetic mean of the
# non-DC power bins). Measured on this corpus's codecs: a digitally pure
# sine lands at <= ~1e-4 (G.711 quantization noise is the floor; PCM floats
# reach 1e-9), while recorded-style signal+noise content sits at >= ~2e-2 —
# a 200x separation. 2e-3 is the geometric middle. The Hann window matters:
# without it, rectangular-window leakage from off-bin tones raises pure-sine
# flatness to ~4e-3 and the margin collapses to ~5x.
_TONAL_FLATNESS_THRESHOLD = 2e-3
# below this many decoded samples the spectrum is too coarse for a stable
# flatness estimate -> NaN, never flagged (40 ms at 8 kHz = 320 samples)
_TONAL_MIN_SAMPLES = 256
# batched-FFT rows are processed in chunks of ~this many float64 elements
# (~32 MB per temporary; with the gather + window + complex output the
# transient peak stays ~150 MB per task instead of scaling with batch size)
_FFT_CHUNK_ELEMS = 4_000_000


def tonal_metrics(
    pdf: pd.DataFrame,
    flatness_threshold: float = _TONAL_FLATNESS_THRESHOLD,
    max_samples: int = 8192,
    min_samples: int = _TONAL_MIN_SAMPLES,
    fft_chunk_elems: int = _FFT_CHUNK_ELEMS,
) -> dict:
    """The tonal check's kernel over one Arrow batch (TONAL_METRICS
    columns); see ``tonal_audit``. Float64 math."""
    n = len(pdf)
    raw_col = pdf["bytes"].to_numpy()
    codec_col = pdf["codec"].to_numpy()
    sr_col = pdf["sr_hz"].to_numpy(dtype=np.int64)
    decode_ok = np.zeros(n, dtype=bool)
    n_used = np.zeros(n, dtype=np.int32)
    flat = np.full(n, np.nan)
    dom_hz = np.full(n, np.nan)
    dom_share = np.full(n, np.nan)
    for idx, lens, seg, pcm in codecs.codec_groups(raw_col, codec_col):
        pcm = pcm.astype(np.float64)
        decode_ok[idx] = True

        def spectrum(P2, rows, m):
            """Shared post-FFT math: P2 is (n_rows, nfft) power with
            the DC bin already dropped; rows are global row indices;
            m the analyzed sample count. The batched and per-clip
            paths run the same per-row kernel, so which path a clip
            took never changes its verdict."""
            tot = P2.sum(axis=1)
            ok = tot > 0.0
            nb = P2.shape[1]
            mean_p = tot / nb
            with np.errstate(divide="ignore", invalid="ignore"):
                # +mean*1e-12 floors exact-zero bins without moving
                # the estimate (flatness floor 1e-12, far under
                # threshold)
                fl = (
                    np.exp(np.log(P2 + mean_p[:, None] * 1e-12).mean(axis=1))
                    / mean_p
                )
            b = np.argmax(P2, axis=1) + 1
            sel = rows[ok]
            flat[sel] = fl[ok]
            srv = sr_col[sel].astype(np.float64)
            dom_hz[sel] = np.where(srv > 0, b[ok] * srv / m, np.nan)
            dom_share[sel] = P2[ok, b[ok] - 1] / tot[ok]

        m_full = int(max_samples)
        full = np.flatnonzero(lens >= m_full)
        if full.size:
            # every capped clip analyzes exactly max_samples: a
            # batched 2-D rfft replaces the per-clip Python loop —
            # at corpus-typical durations (>= ~1 s) this path
            # carries nearly all clips. Rows are processed in
            # chunks bounded at _FFT_CHUNK_ELEMS elements: an
            # unchunked 10k-clip Arrow batch would materialize
            # ~650 MB per temporary (offsets, gather, window,
            # complex FFT output) and OOM executors the per-clip
            # paths handle fine (scoring.py _CHUNK_ELEMS pattern)
            n_used[idx[full]] = m_full
            win = np.hanning(m_full)
            rows_per = max(1, fft_chunk_elems // m_full)
            for s0 in range(0, full.size, rows_per):
                fc = full[s0 : s0 + rows_per]
                offs = seg[fc][:, None] + np.arange(m_full)
                X = pcm[offs]
                rowfin = np.isfinite(X).all(axis=1)
                if rowfin.any():
                    Xf = X[rowfin] * win
                    P2 = np.abs(np.fft.rfft(Xf, axis=1)[:, 1:]) ** 2
                    spectrum(P2, idx[fc[rowfin]], m_full)
        # variable-length tail: per-clip FFT (bounded by max_samples)
        for j in np.flatnonzero(lens < m_full):
            i = idx[j]
            m = int(lens[j])
            n_used[i] = m
            if m < min_samples:
                continue  # too short for a stable spectrum: NaN, never tonal
            x = pcm[seg[j] : seg[j] + m]
            if not np.isfinite(x).all():
                continue  # NaN payloads are the payload check's defect
            p1 = np.abs(np.fft.rfft(x * np.hanning(m))[1:]) ** 2
            spectrum(p1[None, :], np.array([i]), m)
    return {
        "decode_ok": decode_ok,
        "n_used": n_used,
        "spectral_flatness": flat,
        "dominant_hz": dom_hz,
        "dominant_share": dom_share,
        "tonal": np.where(np.isnan(flat), False, flat < flatness_threshold),
    }


def tonal_audit(
    clips: DataFrame,
    flatness_threshold: float = _TONAL_FLATNESS_THRESHOLD,
    max_samples: int = 8192,
    min_samples: int = _TONAL_MIN_SAMPLES,
    fft_chunk_elems: int = _FFT_CHUNK_ELEMS,
) -> DataFrame:
    """Synthetic-tone detection: flag clips whose content is a narrowband
    machine-generated signal (test tones, IVR beeps, DTMF, hold music,
    placeholder sines) rather than recorded audio. Real recordings always
    carry a broadband noise floor (room tone, mic/ADC noise); a digitally
    synthesized tone has none, and its Hann-windowed spectral flatness
    (geometric mean over arithmetic mean of power bins) collapses to ~1e-4
    or below, two orders of magnitude under recorded content.

    This is a content-class check, not corruption: the clip decodes fine,
    matches its reference, and passes every byte/SNR tier — only its
    *provenance* is wrong for a speech corpus. Reference analogue: the
    discrete/continuous variable-type classification (SURVEY.md A21) — a
    content-level "what kind of data is this" screen.

    Emits per clip: ``spectral_flatness``, ``dominant_hz`` (the loudest
    non-DC spectral line — the tone's frequency when tonal),
    ``dominant_share`` (that bin's power share), and the ``tonal`` verdict
    ``flatness < flatness_threshold``.

    Scale notes: one ``mapInPandas`` pass, per-codec-group concatenated
    decode like audio_features. The FFT is per clip but bounded: only the
    first ``max_samples`` decoded samples are analyzed, so cost is
    O(max_samples log max_samples) per clip regardless of duration — the
    loop iterates per clip (one vectorized rfft each), never per sample.
    Opt-in suite check: in the suite, ``tonal_metrics`` runs inside the
    wave's one decode pass (plans/checks.py) beside the other audio checks.

    Exact oracle: tests/test_tonal.py (planted pure tones vs sine+noise
    corpus clips, per-codec, plus the q136 synth-fixture parity test).
    """

    def tonal_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            m = tonal_metrics(
                pdf, flatness_threshold, max_samples, min_samples, fft_chunk_elems
            )
            yield keyed_frame(pdf, m)

    pruned = clips.select("clip_id", "part", "bytes", "codec", "sr_hz")
    return pruned.mapInPandas(tonal_kernel, schema=TONAL_AUDIT_SCHEMA)


# ---------------------------------------------------------------------------
# stutter: stuck-buffer / looped-frame repeats (non-silent dropout analogue)
# ---------------------------------------------------------------------------

STUTTER_METRICS = (
    "decode_ok boolean, n_stutters int, max_repeat_frames int, stutter_ms_total double"
)

STUTTER_AUDIT_SCHEMA = "clip_id string, part int, " + STUTTER_METRICS


def stutter_metrics(
    pdf: pd.DataFrame,
    frame_ms: float = 20.0,
    min_repeats: int = 3,
    zero_eps: float = _DROPOUT_ZERO_EPS,
) -> dict:
    """The stutter check's kernel over one Arrow batch (STUTTER_METRICS
    columns); see ``stutter_audit``. Float32 math."""
    n = len(pdf)
    raw_col = pdf["bytes"].to_numpy()
    codec_col = pdf["codec"].to_numpy()
    sr_col = pdf["sr_hz"].to_numpy(dtype=np.int64)
    decode_ok = np.zeros(n, dtype=bool)
    n_runs = np.zeros(n, dtype=np.int32)
    max_rep = np.zeros(n, dtype=np.int32)
    tot_ms = np.zeros(n, dtype=np.float64)
    for idx, lens, seg, pcm in codecs.codec_groups(raw_col, codec_col):
        decode_ok[idx] = True
        for j in range(idx.size):
            i = idx[j]
            sr = int(sr_col[i])
            if sr <= 0:
                continue  # schema's defect; ms math undefined
            flen = max(1, int(round(sr * frame_ms / 1000.0)))
            k = int(lens[j] // flen)
            if k < min_repeats:
                continue
            fr = pcm[seg[j] : seg[j] + k * flen].reshape(k, flen)
            # identical-to-previous, and not digital silence
            eq = (fr[1:] == fr[:-1]).all(axis=1) & (
                np.abs(fr[1:]).max(axis=1) > zero_eps
            )
            if not eq.any():
                continue
            # run-length over the eq booleans: a run of L Trues is
            # L+1 identical frames
            e = np.empty(eq.size + 2, dtype=bool)
            e[0] = e[-1] = False
            e[1:-1] = eq
            d = np.diff(e.astype(np.int8))
            starts = np.flatnonzero(d == 1)
            ends = np.flatnonzero(d == -1)
            reps = (ends - starts) + 1  # frames per run
            sel = reps >= min_repeats
            if not sel.any():
                continue
            n_runs[i] = int(sel.sum())
            max_rep[i] = int(reps[sel].max())
            tot_ms[i] = float(reps[sel].sum()) * flen / sr * 1000.0
    return {
        "decode_ok": decode_ok,
        "n_stutters": n_runs,
        "max_repeat_frames": max_rep,
        "stutter_ms_total": np.where(decode_ok, tot_ms, np.nan),
    }


def stutter_audit(
    clips: DataFrame,
    frame_ms: float = 20.0,
    min_repeats: int = 3,
    zero_eps: float = _DROPOUT_ZERO_EPS,
) -> DataFrame:
    """Stuck-buffer detection: runs of >= ``min_repeats`` consecutive
    bit-identical NON-SILENT frames (``frame_ms`` each) — the signature of
    a looping DMA/jitter buffer or a concatenation bug that repeats a chunk
    of real audio. Real recordings never produce bit-identical consecutive
    frames (the noise floor differs every frame); the codecs here are
    stateless per sample, so a repeated source frame stays byte-identical
    through encode/decode and exact float equality is the right test.

    Complements ``dropout_audit``: that check owns repeated/inserted
    SILENCE (runs under the digital-silence gate); this one owns repeated
    CONTENT — identical frames at or under ``zero_eps`` everywhere are
    excluded here so the two checks never double-report one defect.

    Reference analogue: the order-dependent per-group repeat scans
    (SURVEY.md W3/A11) — content-level corruption at frame grain.

    Scale notes: one ``mapInPandas`` decode pass (per-codec-group
    concatenated decode); per clip the work is one reshape to
    (n_frames, frame_len) + one vectorized row-equality + run-length scan
    over the (few) frame booleans — O(samples) total, never per-sample
    Python. NaN samples (float-payload corruption) compare unequal and so
    terminate runs — that defect belongs to the payload check.

    Exact oracle: tests/test_stutter.py (planted frame repeats per codec,
    silence exclusion, boundary/run-length semantics).
    """

    def stutter_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield keyed_frame(pdf, stutter_metrics(pdf, frame_ms, min_repeats, zero_eps))

    pruned = clips.select("clip_id", "part", "bytes", "codec", "sr_hz")
    return pruned.mapInPandas(stutter_kernel, schema=STUTTER_AUDIT_SCHEMA)
