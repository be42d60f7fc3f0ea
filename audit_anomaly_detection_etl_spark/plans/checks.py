"""The suite's check table: every name ``SuiteSpec.checks`` may hold.

Each ``Check`` entry says whether the check is row-level (decidable on any
slice of the table: a wave, a streaming micro-batch), whether it is on by
default, and how it finds its violations in one slice. A row-level check
gives ``flags``: ``(check, predicate, detail, severity)`` per row. The
Catalyst row checks (schema, byte_length, encoding, speaking_rate) flag
the slice's own columns, and all of them evaluate in ONE projection over
one scan. The decode checks (payload and the audio opt-ins) flag the
metrics of a per-batch ``kernel``; every enabled decode check of a slice
runs in ONE ``mapInPandas`` (``_decode_pass``), so the payload bytes cross
the JVM->Python boundary once per wave however many audio checks are on,
and one projection flags its rows. Only the two table-wide checks
(uniqueness, referential) ``build`` their own plan. Everything else derives
from ``CHECKS``: ``wave_violations`` (re-exported by ``runner``) composes a
slice from it, ``runner._global_key_checks`` runs the builders over the
whole table, and ``spec.py`` takes the default ``checks`` tuple and the
spec-file name validation from it. Adding a check is one entry here plus
its parameter field on ``SuiteSpec``.

Checks share a no-double-count rule: a defect another check owns (null
or non-positive metadata, an undecodable payload) is never re-reported.
Severities rank the final output (SURVEY.md O1).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text
from ..operators import (
    flagged_violations,
    keyed_frame,
    media,
    payload,
    referential,
    remap_key_part,
    schema_check,
    uniqueness,
)


@dataclass(frozen=True)
class Check:
    name: str
    # False: needs table-wide state, so the batch suite owns it (per wave
    # when key-partitioned, else globally) and streaming micro-batches skip it
    row_level: bool
    default: bool
    # the table-wide checks only: (slice, ref slice or None, spec, enabled
    # check names) -> violation rows
    build: Callable | None = None
    # skipped on a slice without the reference table
    needs_ref: bool = False
    # every row-level check: flags(m, spec, checks) lists its (check,
    # predicate, detail, severity), m(name) resolving each input column. A
    # Catalyst check's flags read the slice's own columns (m is F.col), and
    # all of them evaluate in one projection over one scan
    flags: Callable | None = None
    # decode checks run inside the slice's ONE Python pass (_decode_pass):
    # per Arrow batch of the slice's ``inputs`` columns, kernel(pdf,
    # **params(spec)) returns the columns declared in ``metrics`` (DDL),
    # which m resolves to
    kernel: Callable | None = None
    inputs: tuple = ("bytes", "codec", "sr_hz")
    params: Callable = lambda spec: {}
    metrics: str = ""


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


# flag builders of the Catalyst row checks, over the slice's own columns
# (m is F.col)


def _schema_flags(m, spec, checks):
    return schema_check.constraint_flags(spec.schema_spec)


def _byte_length_flags(m, spec, checks):
    # truncated / oversized / unknown-codec payloads, pure codegen. The
    # schema's allowed-codec constraint owns declared-codec validity when it
    # exists AND the schema check runs; without it unknown codecs would pass
    # the suite silently, so they are reported here
    s = spec.schema_spec
    skip = ["ok", "bad_meta"]
    if "schema" in checks and any(c.name == "codec" and c.allowed for c in s.columns):
        skip.append("unknown_codec")
    a = payload.byte_length_cols()
    detail = F.concat(
        a["verdict"],
        F.lit(": bytes="),
        a["n_bytes"].cast("string"),
        F.lit(" expected="),
        F.coalesce(a["expected_bytes"].cast("string"), F.lit("?")),
        F.lit(" delta_samples="),
        F.coalesce(a["delta_samples"].cast("string"), F.lit("?")),
    )
    return [("byte_length", ~a["verdict"].isin(*skip), detail, 4.5)]


_ENCODING_SIGNALS = (
    ("repl", text.repl_char_count),
    ("ctrl", text.ctrl_char_count),
    ("mojibake", text.mojibake_count),
    ("bom", text.bom_char_count),
)


def _encoding_flags(m, spec, checks):
    # U+FFFD, control chars, UTF-8-as-latin-1 mojibake and in-body BOMs in
    # the text column: the corruption transcript EQUALITY cannot see, since
    # upstream mojibake sits in both copies (functions/text.py signals)
    t = m(spec.encoding_text_col)
    counts = [(n, f(t)) for n, f in _ENCODING_SIGNALS]
    detail = F.concat_ws(" ", *[F.concat(F.lit(f"{n}="), c.cast("string")) for n, c in counts])
    bad = t.isNotNull() & (F.greatest(*[c for _, c in counts]) > 0)
    return [("encoding", bad, detail, 3.5)]


def _speaking_rate_flags(m, spec, checks):
    # words/sec outside the bounds: the transcript cannot belong to the clip
    lo, hi = spec.speaking_rate_bounds
    t, dur = m("transcript"), m("dur_ms")
    # try_divide: ANSI codegen may evaluate wps before the dur > 0 guard
    wps = F.try_divide(F.size(text.words(t)), dur / 1000.0)
    measurable = t.isNotNull() & (F.length(F.trim(t)) > 0) & dur.isNotNull() & (dur > 0)
    detail = F.concat(
        F.lit("wps="), F.round(wps, 2).cast("string"), F.lit(f" outside [{lo}, {hi}]")
    )
    return [("speaking_rate", measurable & ((wps < lo) | (wps > hi)), detail, 2.5)]


def _sampled(spec) -> Column:
    # deterministic key-hash sample for the reference comparison
    # (SuiteSpec.payload_sample): independent of the table's crc32 partition
    # layout and stable across runs for a fixed salt
    frac, salt = spec.payload_sample
    key = F.col("clip_id").cast("string")
    bucket = F.pmod(F.xxhash64(F.concat(key, F.lit(str(salt)))), F.lit(1_000_000))
    return bucket < F.lit(int(round(frac * 1_000_000)))


# flag builders of the decode checks, m(name) naming the check's column in
# the decode pass


def _payload_flags(m, spec, checks):
    flags = payload.payload_flags(m)
    if spec.payload_sample is None:
        return flags
    # the audio checks see every clip; payload rows only the sampled keys
    inside = _sampled(spec)
    return [(check, inside & pred, detail, sev) for check, pred, detail, sev in flags]


def _loudness_flags(m, spec, checks):
    # clips that cannot be normalized to the target without hard-clipping
    target, tol = spec.loudness_bounds
    a = media.loudness_cols(m, target, tol)
    detail = F.concat(
        F.lit("gain_db="),
        F.round(a["gain_db"], 2).cast("string"),
        F.lit(" exceeds headroom_db="),
        F.round(a["headroom_db"], 2).cast("string"),
        F.lit(f" normalizing to {target} dBFS would clip"),
    )
    return [("loudness", a["verdict"] == "boost_clips", detail, 3.0)]


def _dropout_flags(m, spec, checks):
    detail = F.concat(
        F.lit("n_dropouts="),
        m("n_dropouts").cast("string"),
        F.lit(" max_dropout_ms="),
        F.round(m("max_dropout_ms"), 1).cast("string"),
    )
    return [("dropout", m("n_dropouts") > 0, detail, 3.5)]


def _codec_sniff_flags(m, spec, checks):
    detail = F.concat(
        F.lit("declared="),
        m("codec"),
        F.lit(" roughness="),
        F.round(m("roughness_declared"), 3).cast("string"),
        F.lit(" best_alt="),
        F.coalesce(m("best_alt_codec"), F.lit("?")),
        F.lit(" ratio="),
        F.round(m("roughness_ratio"), 2).cast("string"),
    )
    return [("codec_sniff", m("suspect_codec"), detail, 4.2)]


def _tonal_flags(m, spec, checks):
    detail = F.concat(
        F.lit("flatness="),
        F.format_number(m("spectral_flatness"), 6),
        F.lit(" dominant_hz="),
        F.round(m("dominant_hz"), 1).cast("string"),
    )
    return [("tonal", m("tonal"), detail, 2.5)]


def _stutter_flags(m, spec, checks):
    detail = F.concat(
        F.lit("n_stutters="),
        m("n_stutters").cast("string"),
        F.lit(" max_repeat_frames="),
        m("max_repeat_frames").cast("string"),
    )
    return [("stutter", m("n_stutters") > 0, detail, 3.5)]


# table order is the order of the default ``checks`` tuple (part of every
# spec hash: reordering the default entries invalidates all checkpoints).
# The decode checks (payload and the audio opt-ins) share one Python pass.
CHECKS = (
    Check("schema", row_level=True, default=True, flags=_schema_flags),
    Check("stats", row_level=True, default=True),
    Check("uniqueness", row_level=False, default=True, build=_uniqueness),
    Check("referential", row_level=False, default=True, build=_referential, needs_ref=True),
    Check("drift", row_level=False, default=True),
    Check(
        "payload", row_level=True, default=True, needs_ref=True,
        kernel=payload.payload_metrics, metrics=payload.PAYLOAD_METRICS,
        inputs=("bytes", "codec", "sr_hz", "dur_ms", "transcript"),
        flags=_payload_flags,
    ),
    Check("byte_length", row_level=True, default=True, flags=_byte_length_flags),
    Check("encoding", row_level=True, default=True, flags=_encoding_flags),
    Check("speaking_rate", row_level=True, default=False, flags=_speaking_rate_flags),
    Check(
        "loudness", row_level=True, default=False,
        kernel=media.audio_feature_metrics, metrics=media.AUDIO_FEATURE_METRICS,
        flags=_loudness_flags,
    ),
    Check(
        "dropout", row_level=True, default=False,
        kernel=media.dropout_metrics, metrics=media.DROPOUT_METRICS,
        params=lambda spec: {"min_run_ms": spec.dropout_min_run_ms},
        flags=_dropout_flags,
    ),
    Check(
        "codec_sniff", row_level=True, default=False,
        kernel=payload.codec_sniff_metrics, metrics=payload.CODEC_SNIFF_METRICS,
        inputs=("bytes", "codec"),
        params=lambda spec: {"ratio_threshold": spec.codec_sniff_ratio},
        flags=_codec_sniff_flags,
    ),
    Check(
        "tonal", row_level=True, default=False,
        kernel=media.tonal_metrics, metrics=media.TONAL_METRICS,
        params=lambda spec: {"flatness_threshold": spec.tonal_flatness_threshold},
        flags=_tonal_flags,
    ),
    Check(
        "stutter", row_level=True, default=False,
        kernel=media.stutter_metrics, metrics=media.STUTTER_METRICS,
        params=lambda spec: dict(zip(("frame_ms", "min_repeats"), spec.stutter_params)),
        flags=_stutter_flags,
    ),
)

ALL_CHECKS = tuple(c.name for c in CHECKS)
DEFAULT_CHECKS = tuple(c.name for c in CHECKS if c.default)
NON_ROW_LEVEL_CHECKS = tuple(c.name for c in CHECKS if not c.row_level)


# the ref columns payload compares against
_REF_COLS = ("pcm_ref", "transcript_ref")


def _on_rows(metrics: dict, rows: np.ndarray) -> dict:
    """Kernel columns computed over the ``rows`` subset of a batch, spread
    back over the whole batch: null off the subset."""
    at = np.flatnonzero(rows)
    return {k: pd.Series(v, index=at).reindex(range(rows.size)) for k, v in metrics.items()}


def _decode_pass(df: DataFrame, ref_df, spec, entries: list) -> DataFrame:
    """Every enabled decode check of one slice in ONE ``mapInPandas``: the
    clips cross the JVM->Python boundary once, each check's kernel runs on
    the same Arrow batch, and the pass yields one wide metrics row per clip
    (columns ``<check>_<metric>``), which the checks' flags read.

    With payload on, the pass runs over the slice left-joined to the
    reference, so a clip with k ref rows arrives k times: payload rows fan
    out per ref row, as a ref comparison must, while the per-clip audio
    kernels run on the first arrival of each clip row only (its later
    arrivals carry null metrics, which no predicate passes). A
    ``monotonically_increasing_id`` tags each clip row before the join, and
    the kernel keeps the tags its task has already measured: a clip row's
    matches all reach one task, but not necessarily in a row (a shuffled
    hash join that builds the clip side streams the ref rows)."""
    # the kernels name their key/part columns clip_id/part
    s = spec.schema_spec
    inputs = ["clip_id", "part"] + [col for c in entries for col in c.inputs]
    src = remap_key_part(df, s.key_col, s.part_col).select(*dict.fromkeys(inputs))
    per_clip = [c for c in entries if not c.needs_ref]
    if any(c.needs_ref for c in entries):
        ref = ref_df.select(F.col(s.key_col).alias("clip_id"), *_REF_COLS)
        if spec.payload_sample is not None:
            ref = ref.where(_sampled(spec))
            if not per_clip:
                # nothing else decodes: only the sample crosses to Python
                src = src.where(_sampled(spec))
        if per_clip:
            src = src.withColumn("_row", F.monotonically_increasing_id())
        src = src.join(ref, "clip_id", "left")

    fields = {c.name: c.metrics.split(", ") for c in entries}
    kernels = [
        (c.name, c.kernel, c.params(spec), c.needs_ref, [f.split()[0] for f in fields[c.name]])
        for c in entries
    ]

    def fused_checks_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = np.empty(0, np.int64)  # tags of the clip rows already measured
        for pdf in it:
            first = None
            if "_row" in pdf:
                row = pdf["_row"].to_numpy()
                first = ~pd.Index(row).duplicated() & ~np.isin(row, seen)
                seen = np.concatenate((seen, row[first]))
            out = {}
            for name, kernel, params, per_ref, names in kernels:
                if per_ref or first is None or first.all():
                    metrics = kernel(pdf, **params)
                elif first.any():
                    metrics = _on_rows(kernel(pdf[first], **params), first)
                else:  # every row continues a clip row an earlier batch began
                    metrics = dict.fromkeys(names, np.full(len(pdf), None))
                out.update({f"{name}_{k}": v for k, v in metrics.items()})
            yield keyed_frame(pdf, out, "codec")

    metrics = ", ".join(f"{name}_{f}" for name, fs in fields.items() for f in fs)
    return src.mapInPandas(
        fused_checks_kernel, schema=f"clip_id string, part int, codec string, {metrics}"
    )


def wave_violations(
    df: DataFrame, ref_df: DataFrame | None, spec, checks: tuple
) -> DataFrame | None:
    """Compose every requested check's violation rows over one slice of the
    clips table into a single lazy plan: a union of the table-wide checks'
    own plans, ONE projection that evaluates every Catalyst row check's
    flags over the slice, and ONE Python pass for all the decode checks
    with one projection over its rows. Nothing is cached beneath the union,
    so each branch scans the slice itself (before AQE, the default checks
    over plain parquet scan the clips slice 5 times and the ref slice
    twice). None when no check applies. Shared by the batch suite's
    per-wave path, its whole-table key checks and the streaming ingest path
    (streaming/incremental.py), so batch and ingest-time validation agree
    check-for-check on the row-level set."""
    on = [
        c
        for c in CHECKS
        if c.name in checks and (ref_df is not None or not c.needs_ref)
    ]
    parts = [c.build(df, ref_df, spec, checks) for c in on if c.build is not None]
    row = [c for c in on if c.flags is not None and c.kernel is None]
    if row:
        s = spec.schema_spec
        flags = [f for c in row for f in c.flags(F.col, spec, checks)]
        parts.append(flagged_violations(df, flags, s.key_col, s.part_col))
    decode = [c for c in on if c.kernel is not None]
    if decode:
        flags = []
        for c in decode:
            # a check's metric n is column <check>_n; codec is the input's
            m = lambda n, c=c: F.col(n if n == "codec" else f"{c.name}_{n}")  # noqa: E731
            flags += c.flags(m, spec, checks)
        parts.append(flagged_violations(_decode_pass(df, ref_df, spec, decode), flags))
    return reduce(DataFrame.unionByName, parts) if parts else None
