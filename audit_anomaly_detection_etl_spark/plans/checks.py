"""The suite's check table: every name ``SuiteSpec.checks`` may hold.

Each ``Check`` entry says whether the check is row-level (decidable on any
slice of the table: a wave, a streaming micro-batch), whether it is on by
default, and how it builds its violation rows from one slice. Everything
else derives from ``CHECKS``: ``wave_violations`` (re-exported by
``runner``) composes a slice from it, ``runner._global_key_checks`` runs its
non-row-level builders over the whole table, and ``spec.py`` takes the
default ``checks`` tuple and the spec-file name validation from it. Adding a check is one entry here plus
its parameter field on ``SuiteSpec``.

Builders share a no-double-count rule: a defect another check owns (null
or non-positive metadata, an undecodable payload) is never re-reported.
Severities rank the final output (SURVEY.md O1).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text
from ..operators import (
    media,
    payload,
    referential,
    remap_key_part,
    schema_check,
    uniqueness,
    violation_rows,
)


@dataclass(frozen=True)
class Check:
    name: str
    # False: needs table-wide state, so the batch suite owns it (per wave
    # when key-partitioned, else globally) and streaming micro-batches skip it
    row_level: bool
    default: bool
    # (slice, ref slice or None, spec, enabled check names) -> violation
    # rows; None for checks whose output is metrics, not rows
    build: Callable | None = None
    # skipped on a slice without the reference table
    needs_ref: bool = False


def _src(df: DataFrame, spec) -> DataFrame:
    # the audits name their key/part columns clip_id/part
    return remap_key_part(df, spec.schema_spec.key_col, spec.schema_spec.part_col)


def _schema(df, ref_df, spec, checks):
    return schema_check.constraint_violations(df, spec.schema_spec)


def _uniqueness(df, ref_df, spec, checks):
    s = spec.schema_spec
    return uniqueness.uniqueness_violations(
        df, key_col=s.key_col, part_col=s.part_col, n_salts=spec.uniqueness_salts
    )


def _referential(df, ref_df, spec, checks):
    s = spec.schema_spec
    return referential.referential_violations(
        df, ref_df, key_col=s.key_col, part_col=s.part_col
    )


def _payload(df, ref_df, spec, checks):
    if spec.payload_sample is not None:
        # deterministic key-hash sample for the decode-dominated pass
        # (SuiteSpec.payload_sample): independent of the table's crc32
        # partition layout, stable across runs for a fixed salt, and pushed
        # below the join so the ref side prunes with it
        frac, salt = spec.payload_sample
        key = F.col(spec.schema_spec.key_col).cast("string")
        bucket = F.pmod(F.xxhash64(F.concat(key, F.lit(str(salt)))), F.lit(1_000_000))
        df = df.where(bucket < F.lit(int(round(frac * 1_000_000))))
    return payload.payload_violations(payload.payload_report(df, ref_df))


def _byte_length(df, ref_df, spec, checks):
    # truncated / oversized / unknown-codec payloads, pure codegen. The
    # schema's allowed-codec constraint owns declared-codec validity when it
    # exists AND the schema check runs; without it unknown codecs would pass
    # the suite silently, so they are reported here
    s = spec.schema_spec
    skip = ["ok", "bad_meta"]
    if "schema" in checks and any(c.name == "codec" and c.allowed for c in s.columns):
        skip.append("unknown_codec")
    audit = payload.byte_length_audit(df, key_col=s.key_col, part_col=s.part_col)
    detail = F.concat(
        F.col("verdict"),
        F.lit(": bytes="),
        F.col("n_bytes").cast("string"),
        F.lit(" expected="),
        F.coalesce(F.col("expected_bytes").cast("string"), F.lit("?")),
        F.lit(" delta_samples="),
        F.coalesce(F.col("delta_samples").cast("string"), F.lit("?")),
    )
    return violation_rows(audit.where(~F.col("verdict").isin(*skip)), "byte_length", detail, 4.5)


_ENCODING_SIGNALS = (
    ("repl", text.repl_char_count),
    ("ctrl", text.ctrl_char_count),
    ("mojibake", text.mojibake_count),
    ("bom", text.bom_char_count),
)


def _encoding(df, ref_df, spec, checks):
    # U+FFFD, control chars, UTF-8-as-latin-1 mojibake and in-body BOMs in
    # the text column: the corruption transcript EQUALITY cannot see, since
    # upstream mojibake sits in both copies (functions/text.py signals)
    t = F.col(spec.encoding_text_col)
    counted = _src(df, spec).where(t.isNotNull()).select(
        "clip_id", "part", *[f(t).alias(n) for n, f in _ENCODING_SIGNALS]
    )
    names = [n for n, _ in _ENCODING_SIGNALS]
    detail = F.concat_ws(" ", *[F.concat(F.lit(f"{n}="), F.col(n).cast("string")) for n in names])
    return violation_rows(
        counted.where(F.greatest(*names) > 0), "encoding", detail, 3.5
    )


def _speaking_rate(df, ref_df, spec, checks):
    # words/sec outside the bounds: the transcript cannot belong to the clip
    lo, hi = spec.speaking_rate_bounds
    t, dur = F.col("transcript"), F.col("dur_ms")
    # try_divide: ANSI codegen may evaluate wps before the dur > 0 guard
    wps = F.try_divide(F.size(text.words(t)), dur / 1000.0)
    measurable = t.isNotNull() & (F.length(F.trim(t)) > 0) & dur.isNotNull() & (dur > 0)
    detail = F.concat(
        F.lit("wps="), F.round(wps, 2).cast("string"), F.lit(f" outside [{lo}, {hi}]")
    )
    bad = _src(df, spec).where(measurable & ((wps < lo) | (wps > hi)))
    return violation_rows(bad, "speaking_rate", detail, 2.5)


def _loudness(df, ref_df, spec, checks):
    # clips that cannot be normalized to the target without hard-clipping
    target, tol = spec.loudness_bounds
    audit = media.loudness_audit(media.audio_features(_src(df, spec)), target, tol)
    detail = F.concat(
        F.lit("gain_db="),
        F.round("gain_db", 2).cast("string"),
        F.lit(" exceeds headroom_db="),
        F.round("headroom_db", 2).cast("string"),
        F.lit(f" normalizing to {target} dBFS would clip"),
    )
    return violation_rows(audit.where(F.col("verdict") == "boost_clips"), "loudness", detail, 3.0)


def _dropout(df, ref_df, spec, checks):
    audit = media.dropout_audit(_src(df, spec), min_run_ms=spec.dropout_min_run_ms)
    detail = F.concat(
        F.lit("n_dropouts="),
        F.col("n_dropouts").cast("string"),
        F.lit(" max_dropout_ms="),
        F.round("max_dropout_ms", 1).cast("string"),
    )
    return violation_rows(audit.where(F.col("n_dropouts") > 0), "dropout", detail, 3.5)


def _codec_sniff(df, ref_df, spec, checks):
    audit = payload.codec_sniff_audit(_src(df, spec), ratio_threshold=spec.codec_sniff_ratio)
    detail = F.concat(
        F.lit("declared="),
        F.col("codec"),
        F.lit(" roughness="),
        F.round("roughness_declared", 3).cast("string"),
        F.lit(" best_alt="),
        F.coalesce(F.col("best_alt_codec"), F.lit("?")),
        F.lit(" ratio="),
        F.round("roughness_ratio", 2).cast("string"),
    )
    return violation_rows(audit.where(F.col("suspect_codec")), "codec_sniff", detail, 4.2)


def _tonal(df, ref_df, spec, checks):
    audit = media.tonal_audit(_src(df, spec), flatness_threshold=spec.tonal_flatness_threshold)
    detail = F.concat(
        F.lit("flatness="),
        F.format_number(F.col("spectral_flatness"), 6),
        F.lit(" dominant_hz="),
        F.round("dominant_hz", 1).cast("string"),
    )
    return violation_rows(audit.where(F.col("tonal")), "tonal", detail, 2.5)


def _stutter(df, ref_df, spec, checks):
    frame_ms, min_repeats = spec.stutter_params
    audit = media.stutter_audit(_src(df, spec), frame_ms=frame_ms, min_repeats=min_repeats)
    detail = F.concat(
        F.lit("n_stutters="),
        F.col("n_stutters").cast("string"),
        F.lit(" max_repeat_frames="),
        F.col("max_repeat_frames").cast("string"),
    )
    return violation_rows(audit.where(F.col("n_stutters") > 0), "stutter", detail, 3.5)


# table order is the order of the default ``checks`` tuple (part of every
# spec hash: reordering the default entries invalidates all checkpoints) and
# of the composed union. Each opt-in audio check runs its own decode pass.
CHECKS = (
    Check("schema", row_level=True, default=True, build=_schema),
    Check("stats", row_level=True, default=True),
    Check("uniqueness", row_level=False, default=True, build=_uniqueness),
    Check("referential", row_level=False, default=True, build=_referential, needs_ref=True),
    Check("drift", row_level=False, default=True),
    Check("payload", row_level=True, default=True, build=_payload, needs_ref=True),
    Check("byte_length", row_level=True, default=True, build=_byte_length),
    Check("encoding", row_level=True, default=True, build=_encoding),
    Check("speaking_rate", row_level=True, default=False, build=_speaking_rate),
    Check("loudness", row_level=True, default=False, build=_loudness),
    Check("dropout", row_level=True, default=False, build=_dropout),
    Check("codec_sniff", row_level=True, default=False, build=_codec_sniff),
    Check("tonal", row_level=True, default=False, build=_tonal),
    Check("stutter", row_level=True, default=False, build=_stutter),
)

ALL_CHECKS = tuple(c.name for c in CHECKS)
DEFAULT_CHECKS = tuple(c.name for c in CHECKS if c.default)
NON_ROW_LEVEL_CHECKS = tuple(c.name for c in CHECKS if not c.row_level)


def wave_violations(
    df: DataFrame, ref_df: DataFrame | None, spec, checks: tuple
) -> DataFrame | None:
    """Compose every requested check's violation rows over one slice of the
    clips table into a single lazy plan (ONE scan per slice). None when no
    check applies. Shared by the batch suite's per-wave path, its
    whole-table key checks and the streaming ingest path
    (streaming/incremental.py), so batch and ingest-time validation agree
    check-for-check on the row-level set."""
    parts = [
        c.build(df, ref_df, spec, checks)
        for c in CHECKS
        if c.build is not None and c.name in checks and (ref_df is not None or not c.needs_ref)
    ]
    return reduce(DataFrame.unionByName, parts) if parts else None
