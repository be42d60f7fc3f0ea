"""Acoustic landmark fingerprinting + audio near-duplicate detection.

The audio twin of the text dedup tiers (operators/dedup.py): content-based
near-dup detection that survives time shifts, re-encoding (G.711, float),
resampling, and mild additive noise — transformations under which the exact
byte/md5 tier (A12 analogue) and even decoded-PCM hashing are useless.

Algorithm is the classic spectral-landmark scheme (Wang 2003, "An
Industrial-Strength Audio Search Algorithm", ISMIR): per clip

1. decode + resample to a fixed rate (hashes become sample-rate-invariant),
2. magnitude STFT (Hann window, fixed ``n_fft``/``hop``),
3. constellation: per frame, the peak bin of each log-spaced band, kept only
   above a per-clip adaptive floor (median magnitude x ``floor_mult``),
4. landmarks: each peak anchors pairs with the next ``fanout`` peaks within
   ``max_dt`` following frames; hash packs ``(f1, f2, dt)`` into one int.

Two clips sharing audio share many hashes at a CONSISTENT anchor-time
offset; random collisions scatter across offsets. Matching therefore scores
``max over offset of |{hash matches at that offset}|`` — the offset
histogram is the verification step, playing the role exact-Jaccard plays
for MinHash candidates.

Scale shape (100 TB corpus): fingerprinting is one ``mapInPandas`` pass
(narrow, Arrow-batched; FFT vectorized per clip — per-clip python overhead
only, never per sample). Matching is a hash-equi self-join — shuffle on the
hash column with hot hashes (boilerplate tones, silence artifacts) dropped
at ``max_bucket`` exactly like the LSH band-bucket bound, then a two-level
hash agg. No windows, no cartesian, no driver loops.

Determinism: fixed parameters + numpy FFT => bit-stable fingerprints for a
given input, which is what makes the exact pytest oracle possible
(tests/test_audiofp.py re-derives fingerprints with an independent
plain-python implementation).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import codecs

FINGERPRINT_SCHEMA = "clip_id string, part int, h long, t int"

# fixed so fingerprints are comparable across runs/engines
TARGET_SR = 8000
N_FFT = 256
HOP = 128
FLOOR_MULT = 4.0
MAX_DT = 6  # frames ahead an anchor may pair with
FANOUT = 3  # pairs per anchor
# log-spaced band edges over the 129 rfft bins (n_fft=256): peaks are taken
# per band so low-frequency energy cannot monopolize the constellation
BAND_EDGES = (1, 8, 24, 64, 129)

_HANN = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(N_FFT) / N_FFT)


def _constellation(pcm: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(t_frames, f_bins) of spectral peaks for one clip (sorted by t, f)."""
    if len(pcm) < N_FFT:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    n_frames = 1 + (len(pcm) - N_FFT) // HOP
    idx = np.arange(N_FFT)[None, :] + HOP * np.arange(n_frames)[:, None]
    mag = np.abs(np.fft.rfft(pcm[idx] * _HANN, axis=1))
    floor = FLOOR_MULT * np.median(mag)
    ts, fs = [], []
    for lo, hi in zip(BAND_EDGES[:-1], BAND_EDGES[1:]):
        band = mag[:, lo:hi]
        peak_f = np.argmax(band, axis=1) + lo
        peak_m = band[np.arange(n_frames), peak_f - lo]
        keep = np.flatnonzero(peak_m > floor)
        ts.append(keep)
        fs.append(peak_f[keep])
    t = np.concatenate(ts)
    f = np.concatenate(fs)
    order = np.lexsort((f, t))
    return t[order], f[order]


def _landmarks(t: np.ndarray, f: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(hash, anchor_t) pairs from a constellation — O(p * FANOUT):
    ``t`` is sorted, so each anchor's valid targets (0 < dt <= MAX_DT, taken
    in (t, f) order) are a contiguous slice found with two searchsorted
    calls. The obvious p x p valid-pair matrix is quadratic in PEAK COUNT —
    ~1 GB of temporaries for a 30 s clip and unbounded for long recordings —
    while this form is linear in output size regardless of clip length."""
    p = len(t)
    if p < 2:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    lo = np.searchsorted(t, t, side="right")  # first j with t[j] > t[i]
    hi = np.searchsorted(t, t + MAX_DT, side="right")  # first j past the window
    cnt = np.minimum(hi - lo, FANOUT)
    ai = np.repeat(np.arange(p), cnt)
    if ai.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    starts = np.cumsum(cnt) - cnt
    tj = lo[ai] + (np.arange(ai.size) - np.repeat(starts, cnt))
    dt = t[tj] - t[ai]
    h = (f[ai].astype(np.int64) << 16) | (f[tj].astype(np.int64) << 8) | dt.astype(np.int64)
    return h, t[ai].astype(np.int64)


def fingerprints(clips: DataFrame) -> DataFrame:
    """Exploded landmark fingerprints: one row per (clip, hash occurrence).

    Input needs ``clip_id, part, bytes, codec, sr_hz`` (the clips-table
    contract, operators/media.py). Undecodable or too-short clips simply
    contribute no rows — the WAV/codec *validation* checks live in
    media.wav_consistency_violations, not here.
    """

    def fingerprint_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, parts, hs, ts = [], [], [], []
            for cid, part, raw, codec, sr in zip(
                pdf["clip_id"], pdf["part"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            ):
                if raw is None or codec not in codecs.CODECS or not sr or sr <= 0:
                    continue
                bps = codecs.bytes_per_sample(codec)
                if len(raw) == 0 or len(raw) % bps != 0:
                    continue
                pcm = codecs.decode(raw, codec).astype(np.float64)
                pcm = codecs.resample_linear(pcm, int(sr), TARGET_SR).astype(np.float64)
                h, t = _landmarks(*_constellation(pcm))
                if h.size:
                    ids.append(np.repeat(np.array([cid], dtype=object), h.size))
                    parts.append(np.full(h.size, part, dtype=np.int32))
                    hs.append(h)
                    ts.append(t)
            if ids:
                yield pd.DataFrame(
                    {
                        "clip_id": np.concatenate(ids),
                        "part": np.concatenate(parts),
                        "h": np.concatenate(hs),
                        "t": np.concatenate(ts),
                    }
                )

    pruned = clips.select("clip_id", "part", "bytes", "codec", "sr_hz")
    return pruned.mapInPandas(fingerprint_kernel, schema=FINGERPRINT_SCHEMA)


def neardup_pairs(
    clips: DataFrame, min_matches: int = 16, max_bucket: int = 64
) -> DataFrame:
    """Audio near-duplicate pairs: (clip_a, clip_b, aligned_matches,
    total_matches, offset) with ``aligned_matches >= min_matches``.

    ``offset`` is the winning anchor-time delta (frames, a - b): shifted
    copies report their shift. The default ``min_matches=16`` sits centered
    in the measured score margin on the melody fixture (true pairs >= 20,
    best random coincidence 14 — tests/test_audiofp.py asserts exact
    recall/precision at this threshold). Hashes occurring in more than ``max_bucket``
    distinct clips are dropped before the join (hot-bucket bound, same
    policy and rationale as dedup.minhash_lsh_pairs) — ties in the winning
    offset break on the smaller offset value for determinism.
    """
    fp = fingerprints(clips)
    # first occurrence per (clip, hash): stationary audio (sustained tones,
    # hum) repeats the same landmark at dozens of anchor times, which would
    # quadratically inflate the join AND let unrelated stationary clips
    # accumulate aligned counts at every offset; keeping min(t) restores the
    # one-vote-per-shared-hash semantics the offset histogram assumes
    fp = fp.groupBy("clip_id", "h").agg(
        F.min("t").alias("t"), F.first("part").alias("part")
    )

    hot = (
        fp.groupBy("h")
        # distinct grain: per fingerprint hash (keyed agg, hot hashes capped)
        .agg(F.countDistinct("clip_id").alias("n_clips"))
        .where(F.col("n_clips") > max_bucket)
        .select("h")
    )
    fp = fp.join(F.broadcast(hot), "h", "left_anti")

    a = fp.select(F.col("clip_id").alias("clip_a"), "h", F.col("t").alias("t_a"))
    b = fp.select(F.col("clip_id").alias("clip_b"), "h", F.col("t").alias("t_b"))
    cand = a.join(b, "h").where(F.col("clip_a") < F.col("clip_b"))

    # vote = distinct ANCHOR FRAME agreeing on an offset, not raw hash
    # matches: one shared sustained note emits a whole correlated family of
    # hashes (its harmonic bins x dt variants) anchored at one frame, which
    # would cast ~20 votes for a single coincidence; distinct t_a collapses
    # each agreeing anchor frame to one vote, so the score scales with how
    # MUCH of the timeline aligns, not how rich one shared spectrum is
    by_offset = cand.groupBy(
        "clip_a", "clip_b", (F.col("t_a") - F.col("t_b")).alias("offset")
    # distinct grain: per candidate PAIR over in-clip anchor times (bounded
    # by clip duration / hop) — keyed agg
    ).agg(F.countDistinct("t_a").alias("n"))
    # +-1-frame smoothing: resampling/noise jitters true-match anchors by a
    # frame, splitting their votes across adjacent offsets; random
    # coincidences don't cluster, so smoothing widens the true/false gap.
    # The window partitions by PAIR (tiny per-pair offset lists) — never the
    # unpartitioned global window audit_plans.py bans
    w = Window.partitionBy("clip_a", "clip_b").orderBy("offset")
    prev_n, next_n = F.lag("n").over(w), F.lead("n").over(w)
    prev_o, next_o = F.lag("offset").over(w), F.lead("offset").over(w)
    smoothed = by_offset.withColumn(
        "n3",
        F.col("n")
        + F.coalesce(F.when(prev_o == F.col("offset") - 1, prev_n), F.lit(0))
        + F.coalesce(F.when(next_o == F.col("offset") + 1, next_n), F.lit(0)),
    )
    scored = smoothed.groupBy("clip_a", "clip_b").agg(
        F.max("n3").alias("aligned_matches"),
        F.sum("n").alias("total_matches"),
        # winning offset = argmax over (n3, -offset): max smoothed votes,
        # ties to the smaller offset (struct ordering is lexicographic)
        F.max_by(
            "offset", F.struct(F.col("n3").alias("n"), (-F.col("offset")).alias("neg"))
        ).alias("offset"),
    )
    return scored.where(F.col("aligned_matches") >= F.lit(min_matches)).select(
        "clip_a", "clip_b", "aligned_matches", "total_matches", "offset"
    )
