"""Audio payload validation: Arrow-batched decode + per-row invariants.

The north rule's heavy check (BASELINE.json ``input_hint``): decode codec
bytes to PCM inside *vectorized* pandas UDFs — Arrow batches, no per-row
Python serialization — and assert, per clip:

- decoded-PCM allclose vs reference at SNR >= 30 dB
- transcript byte-equality vs reference
- dur_ms consistency: dur_ms == round(n_samples / sr_hz * 1000)
- codec known / payload byte-length valid

Reference analogue: the per-event value-modification and substring checks
(SURVEY.md A10/A11) — the one place the reference's per-row semantics become
compute-heavy, hence the only Python hot path in this engine
(SURVEY.md §2.10).

Scale notes:
- ``mapInPandas`` streams Arrow batches; ``arrow_max_records`` in session.py
  bounds batch memory because clips can be minutes long. The per-batch loop
  is over *clips*, and each iteration is numpy over the whole clip — the
  Python interpreter touches each row once, the samples never.
- join with the reference table is key-equi on ``clip_id``; both sides are
  table-scale, so this is the engine's one big sort-merge join. On a real
  deployment both tables are bucketed/partitioned identically (our synth
  writes both hive-partitioned by ``part``) so a storage-partitioned join
  can elide the shuffle; AQE skew-split covers hot partitions from
  long-duration clips otherwise.
- left join: clips with no ref row still get decode/dur/codec checks; the
  SNR/transcript invariants are skipped there (referential.py reports them).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import codecs
from . import flagged_violations, keyed_frame

SNR_THRESHOLD_DB = 30.0

# the columns payload_metrics returns per batch (the per-clip report flags)
PAYLOAD_METRICS = (
    "decode_ok boolean, snr_db double, dur_ok boolean, transcript_ok boolean, "
    "transcript_null boolean, has_ref boolean"
)

REPORT_SCHEMA = "clip_id string, part int, codec string, " + PAYLOAD_METRICS


def payload_metrics(pdf: pd.DataFrame) -> dict:
    """The payload check's kernel over one Arrow batch of ref-joined clips
    (PAYLOAD_METRICS columns). Whole-batch vectorized — the Python
    interpreter never loops over samples, and the per-clip math (decode,
    noise/signal energy) runs as ONE numpy op per codec group over the
    concatenation of all clips in the batch, with per-clip reductions via
    ``np.add.reduceat`` over the segment offsets. The only O(n_rows) Python
    left is byte-length probing of the object-typed binary columns
    (unavoidable for Arrow binary arrays in pandas; cost is one ``len()``
    per clip, not per sample).
    """
    n = len(pdf)
    raw_col = pdf["bytes"].to_numpy()
    ref_col = pdf["pcm_ref"].to_numpy()
    # NULL metadata arrives as NaN floats; a straight int64 cast turns
    # NaN into INT64_MIN garbage. Null sr/dur is the schema/byte_length
    # checks' defect (no-double-count) — mask it out of the dur check.
    meta_ok = (
        ~(pd.isna(pdf["sr_hz"]) | pd.isna(pdf["dur_ms"]))
    ).to_numpy(dtype=bool)
    sr_col = pdf["sr_hz"].fillna(0).to_numpy(dtype=np.int64)
    dur_col = pdf["dur_ms"].fillna(0).to_numpy(dtype=np.int64)
    tr_vals = pdf["transcript"].to_numpy()
    trr_vals = pdf["transcript_ref"].to_numpy()

    decode_ok = np.zeros(n, dtype=bool)
    snr = np.full(n, np.nan)
    dur_ok = np.zeros(n, dtype=bool)
    has_ref = np.array([r is not None for r in ref_col], dtype=bool)
    transcript_null = pd.isna(pdf["transcript"]).to_numpy()

    ref_lens = np.array([len(r) if r is not None else -1 for r in ref_col], dtype=np.int64)
    codec_col = pdf["codec"].to_numpy()

    # an EMPTY payload decodes (to zero samples) here; unknown-codec and
    # torn payloads keep decode_ok False
    for idx, lens, starts, pcm_all in codecs.codec_groups(
        raw_col, codec_col, allow_empty=True
    ):
        decode_ok[idx] = True
        sr = sr_col[idx]
        with np.errstate(divide="ignore", invalid="ignore"):
            dur_ok[idx] = np.where(
                meta_ok[idx],
                (sr > 0)
                & (dur_col[idx] == np.round(lens / np.maximum(sr, 1) * 1000.0)),
                True,  # null metadata: not this check's defect
            )

        # SNR vs reference: rows with a ref row; float32 ref => 4 B/sample
        m = has_ref[idx]
        if not m.any():
            continue
        ref_ok = (ref_lens[idx] % 4 == 0) & (ref_lens[idx] // 4 == lens) & (lens > 0)
        snr[idx[m & ~ref_ok]] = float("-inf")  # length mismatch / torn ref
        g = np.flatnonzero(m & ref_ok)
        if g.size == 0:
            continue
        rows = idx[g]
        # float32 element math + float64 ACCUMULATION (reduceat dtype):
        # the decoded PCM is float32, so diffs/squares are computed at
        # source precision (a bit-exact pair still subtracts to exactly
        # 0.0) while the per-clip energy sums accumulate in float64 —
        # same inf/-inf semantics, ~1e-5 dB on finite SNR, and half the
        # allocation traffic of promoting both 700 MB sides to float64
        # (the dominant cost with 32 workers contending for memory
        # bandwidth; the numpy math itself is ~2.5 cpu-s per 24k clips)
        ref_all = np.frombuffer(b"".join(ref_col[i] for i in rows), dtype=np.float32)
        test_all = np.concatenate(
            [pcm_all[starts[j] : starts[j] + lens[j]] for j in g]
        )
        seg = np.zeros(g.size, dtype=np.int64)
        np.cumsum(lens[g][:-1], out=seg[1:])
        d = ref_all - test_all
        np.square(d, out=d)
        noise = np.add.reduceat(d, seg, dtype=np.float64)
        sig = np.add.reduceat(np.square(ref_all), seg, dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = 10.0 * np.log10(sig / noise)
        # order matches codecs.snr_db: a bit-exact match is +inf even
        # when both sides are all-zero (noise==0 wins over sig==0)
        s[sig == 0.0] = float("-inf")  # silent reference can't attest
        s[noise == 0.0] = float("inf")  # bit-exact
        # any remaining NaN is corruption, not a verdict: inf/inf from
        # float32 overflow (|x| > ~1.8e19 squares past f32 max) or NaN
        # samples in either side. Spark orders NaN ABOVE every number,
        # so a NaN snr_db would silently PASS the `< threshold` check —
        # force it to a fail. (The pre-LUT float64 path could not
        # overflow here but passed NaN samples the same silent way.)
        s[np.isnan(s)] = float("-inf")
        snr[rows] = s

    # transcript byte-equality is independent of audio decode success
    transcript_ok = ~transcript_null & has_ref & (tr_vals == trr_vals)
    return {
        "decode_ok": decode_ok,
        "snr_db": snr,
        "dur_ok": dur_ok,
        "transcript_ok": transcript_ok,
        "transcript_null": transcript_null,
        "has_ref": has_ref,
    }


def payload_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield keyed_frame(pdf, payload_metrics(pdf), "codec")


def payload_report(clips: DataFrame, clips_ref: DataFrame) -> DataFrame:
    """Per-clip validation report (REPORT_SCHEMA). Lazy: one join + one
    mapInPandas stage; column pruning keeps only the 8 needed input columns
    at the scans.

    Flag independence (deliberate): transcript flags (``transcript_null`` /
    ``transcript_ok``) are evaluated for EVERY clip, including clips whose
    audio failed to decode — a torn payload does not suppress transcript
    violations (each check attests its own invariant). Likewise ``snr_db``
    for a ref row of matching *length zero* is -inf (a silent/empty
    reference cannot attest the signal), via the ``lens > 0`` term in
    ``ref_ok``. Covered by tests/test_payload.py::test_flags_decoupled_from_decode.
    """
    ref = clips_ref.select("clip_id", "pcm_ref", "transcript_ref")
    joined = clips.select("clip_id", "part", "bytes", "sr_hz", "dur_ms", "codec", "transcript").join(
        ref, "clip_id", "left"
    )
    return joined.mapInPandas(payload_kernel, schema=REPORT_SCHEMA)


def payload_flags(m=F.col) -> list:
    """The payload check's ``(check, predicate, detail, severity)`` flags
    over PAYLOAD_METRICS columns, ``m(name)`` resolving each column.
    Severities rank the final output like the reference's (prediction,
    score) sort (SURVEY.md O1)."""
    ok, has_ref, t_null = m("decode_ok"), m("has_ref"), m("transcript_null")
    snr = m("snr_db")
    return [
        ("codec", ~ok, F.lit("payload failed to decode"), 5.0),
        (
            "payload_snr",
            ok & has_ref & (F.coalesce(snr, F.lit(-1e9)) < SNR_THRESHOLD_DB),
            F.concat(F.lit("snr_db="), F.round(snr, 2).cast("string")),
            4.0,
        ),
        ("dur_mismatch", ok & ~m("dur_ok"), F.lit("dur_ms != decoded length"), 2.5),
        ("transcript_null", t_null, F.lit("null transcript"), 1.5),
        (
            "transcript_mismatch",
            ~t_null & has_ref & ~m("transcript_ok"),
            F.lit("transcript differs from reference"),
            2.0,
        ),
    ]


def payload_violations(report: DataFrame) -> DataFrame:
    """VIOLATION_SCHEMA rows from the report flags."""
    return flagged_violations(report, payload_flags())


def byte_length_audit(
    clips: DataFrame,
    tolerance_samples: int = 1,
    key_col: str = "clip_id",
    part_col: str = "part",
) -> DataFrame:
    """Pre-decode triage: does the payload's BYTE LENGTH match what the
    declared (dur_ms, sr_hz, codec) metadata promises? ``expected_bytes =
    round(dur_ms/1000 * sr_hz) * bytes_per_sample(codec)`` — a truncated
    upload, a payload written under a different codec than declared, or a
    dur_ms in the wrong unit all show up WITHOUT decoding a single sample.

    This is the cheap tier in front of the SNR decode check (q33): at
    10^12 clips it is a whole-stage-codegen projection over three metadata
    columns + the binary length (parquet stores byte length in the column
    data; no PCM ever materializes in Python). Verdicts: ``ok`` (within
    ``tolerance_samples``), ``truncated``, ``oversized``, ``unknown_codec``,
    ``bad_meta`` (non-positive dur/sr or null payload).

    Returns (clip_id, part, n_bytes, expected_bytes, delta_samples,
    verdict).
    """
    # metadata column names (bytes/sr_hz/dur_ms/codec) are the input-hint
    # contract; only the key/partition columns are spec-configurable, and
    # they normalize to (clip_id, part) in the output
    cols = byte_length_cols(tolerance_samples)
    return clips.select(
        F.col(key_col).alias("clip_id"),
        F.col(part_col).alias("part"),
        *[c.alias(k) for k, c in cols.items()],
    )


def byte_length_cols(tolerance_samples: int = 1) -> dict:
    """``byte_length_audit``'s measured columns as Catalyst expressions over
    the table's own bytes/sr_hz/dur_ms/codec columns."""
    bps = F.create_map(
        *[
            x
            for c in codecs.CODECS
            for x in (F.lit(c), F.lit(codecs.bytes_per_sample(c)))
        ]
    )[F.col("codec")]
    n_bytes = F.length(F.col("bytes")).cast("long")
    exp_samples = F.round(F.col("dur_ms").cast("double") / 1000.0 * F.col("sr_hz"))
    exp_bytes = (exp_samples * bps).cast("long")
    byte_delta = n_bytes - exp_bytes
    delta = F.when(bps.isNotNull(), byte_delta / bps).cast("long")
    bad_meta = (
        F.col("bytes").isNull()
        | F.col("dur_ms").isNull()
        | F.col("sr_hz").isNull()
        | (F.col("dur_ms") <= 0)
        | (F.col("sr_hz") <= 0)
    )
    # verdict compares BYTES, not the truncated-toward-zero sample delta: a
    # payload short by 1.75 samples would otherwise cast to -1 and pass the
    # 1-sample tolerance. Misaligned lengths (n_bytes % bps != 0) can never
    # decode and are never 'ok' regardless of tolerance.
    verdict = (
        F.when(bad_meta, F.lit("bad_meta"))
        .when(bps.isNull(), F.lit("unknown_codec"))
        .when(
            (F.abs(byte_delta) <= tolerance_samples * bps) & (n_bytes % bps == 0),
            F.lit("ok"),
        )
        .when(byte_delta < 0, F.lit("truncated"))
        .otherwise(F.lit("oversized"))
    )
    return {
        "n_bytes": n_bytes,
        "expected_bytes": F.when(~bad_meta & bps.isNotNull(), exp_bytes),
        "delta_samples": F.when(~bad_meta & bps.isNotNull(), delta),
        "verdict": verdict,
    }


# ---------------------------------------------------------------------------
# declared-codec plausibility sniff (mislabeled companding law)
# ---------------------------------------------------------------------------

CODEC_SNIFF_METRICS = (
    "decode_ok boolean, roughness_declared double, best_alt_codec string, "
    "roughness_best_alt double, roughness_ratio double, suspect_codec boolean"
)

CODEC_SNIFF_SCHEMA = "clip_id string, part int, codec string, " + CODEC_SNIFF_METRICS

# a wrong-law decode looks noise-like: white noise has first-difference
# energy ~2x signal energy, correctly decoded band-limited audio sits far
# below 1. Measured on the synth corpus: own-law roughness median 0.096
# (max 1.23 on noise-heavy content), cross-law median 0.93 -- the RATIO
# separates them by ~10x while absolute thresholds would flag noisy-but-
# correct clips.
_SNIFF_MIN_ROUGHNESS = 0.5
_SNIFF_RATIO = 3.0
_SNIFF_MIN_RMS = 1e-4


def codec_sniff_metrics(
    pdf: pd.DataFrame,
    ratio_threshold: float = _SNIFF_RATIO,
    min_declared_roughness: float = _SNIFF_MIN_ROUGHNESS,
) -> dict:
    """The codec_sniff check's kernel over one Arrow batch
    (CODEC_SNIFF_METRICS columns); see ``codec_sniff_audit``."""
    n = len(pdf)
    raw_col = pdf["bytes"].to_numpy()
    codec_col = pdf["codec"].to_numpy()
    cands = list(codecs.CODECS)
    rough = np.full((n, len(cands)), np.nan)
    rms2 = np.full((n, len(cands)), np.nan)
    # every row decodes under every candidate: one group per candidate
    for ci, cand in enumerate(cands):
        for idx, lens, seg, x in codecs.codec_groups(
            raw_col, np.full(n, cand, dtype=object)
        ):
            # junk byte patterns reinterpreted as f32 can hold
            # SIGNALING NaNs; the widening cast quiets them and numpy
            # warns — the NaN itself is handled (isfinite gate
            # below), so silence it
            with np.errstate(invalid="ignore"):
                x = x.astype(np.float64)
            energy = np.add.reduceat(x * x, seg)
            d2 = (x[1:] - x[:-1]) ** 2
            d2 = np.append(d2, 0.0)
            # zero the cross-clip boundary diffs BEFORE the reduceat:
            # junk reinterpretations reach ~1e38, so a boundary d2 of
            # ~1e76 absorbs the real clip sum in float64 and the
            # subtract-after pattern (audio_features' zcr, safe there
            # because flips are 0/1) returns exactly 0 here
            d2[seg + lens - 1] = 0.0
            diff_sum = np.add.reduceat(d2, seg)
            with np.errstate(divide="ignore", invalid="ignore"):
                r = (diff_sum / np.maximum(lens - 1, 1)) / (energy / lens)
            ok = (lens > 1) & (energy > 0) & np.isfinite(r)
            rough[idx[ok], ci] = r[ok]
            rms2[idx[ok], ci] = energy[ok] / lens[ok]
    cand_index = {c: i for i, c in enumerate(cands)}
    decl_ci = np.array([cand_index.get(c, -1) for c in codec_col])
    rows = np.arange(n)
    has_decl = decl_ci >= 0
    decl = np.full(n, np.nan)
    decl_rms2 = np.full(n, np.nan)
    decl[has_decl] = rough[rows[has_decl], decl_ci[has_decl]]
    decl_rms2[has_decl] = rms2[rows[has_decl], decl_ci[has_decl]]
    alt = rough.copy()
    alt[rows[has_decl], decl_ci[has_decl]] = np.nan
    alt_filled = np.where(np.isnan(alt), np.inf, alt)
    best_ci = np.argmin(alt_filled, axis=1)
    best_r = alt_filled[rows, best_ci]
    best_ci = np.where(np.isfinite(best_r), best_ci, -1)
    best_r = np.where(np.isfinite(best_r), best_r, np.nan)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = decl / best_r
    decode_ok = np.isfinite(decl)
    suspect = (
        decode_ok
        & np.isfinite(ratio)
        & (decl >= min_declared_roughness)
        & (ratio >= ratio_threshold)
        & (decl_rms2 >= _SNIFF_MIN_RMS**2)
    )
    return {
        "decode_ok": decode_ok,
        "roughness_declared": np.round(decl, 6),
        "best_alt_codec": [cands[c] if c >= 0 else None for c in best_ci],
        "roughness_best_alt": np.round(best_r, 6),
        "roughness_ratio": np.round(ratio, 6),
        "suspect_codec": suspect,
    }


def codec_sniff_audit(
    clips: DataFrame,
    ratio_threshold: float = _SNIFF_RATIO,
    min_declared_roughness: float = _SNIFF_MIN_ROUGHNESS,
) -> DataFrame:
    """Mislabeled-codec detection from payload CONTENT: decode each clip
    under its declared codec AND every byte-length-consistent alternative,
    compare waveform roughness (first-difference energy over signal
    energy), and flag clips whose declared decode is noise-like while an
    alternative decodes to plausible audio.

    This is the corruption class the other payload tiers cannot see:
    ``byte_length_audit`` is blind to ulaw<->alaw swaps (both 1 byte per
    sample, identical size arithmetic), and the SNR check needs a
    reference row — a mislabeled clip with no ref row decodes "cleanly"
    into garbage and passes everything. The flag is deliberately RELATIVE
    (declared/alternative ratio >= ``ratio_threshold`` and declared
    roughness >= ``min_declared_roughness``): noise-heavy but correctly
    labeled content scores ~equal roughness under every law and stays
    clean, while a swapped label shows ~10x separation.

    Reference analogue: the per-event value-plausibility flags
    (SURVEY.md A10) applied at the payload-content level.

    Scale notes: one ``mapInPandas`` pass; for each candidate codec the
    batch's consistent clips decode as ONE concatenation with per-clip
    roughness from ``np.add.reduceat`` sums (the cross-clip boundary
    difference is subtracted exactly like audio_features' ZCR
    correction). Candidate count is a constant (4), so the pass stays
    O(batch bytes), never per-sample Python.
    """

    def codec_sniff_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            m = codec_sniff_metrics(pdf, ratio_threshold, min_declared_roughness)
            yield keyed_frame(pdf, m, "codec")

    pruned = clips.select("clip_id", "part", "bytes", "codec")
    return pruned.mapInPandas(codec_sniff_kernel, schema=CODEC_SNIFF_SCHEMA)
