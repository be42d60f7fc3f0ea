"""Declarative validation-suite specification.

Reference analogue: the YAML config + OmegaConf interpolation that *is* the
reference's IR (SURVEY.md §3.4). Here the spec is a dataclass tree; its
canonical-JSON hash becomes part of checkpoint lineage, so editing the spec
automatically invalidates prior partition verdicts (plans/checkpoint.py).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from .. import __version__
from ..functions import codecs
from ..operators.drift import BinSpec
from ..operators.schema_check import ColumnSpec, TableSchemaSpec
from .checks import ALL_CHECKS, DEFAULT_CHECKS


def default_clips_schema_spec() -> TableSchemaSpec:
    return TableSchemaSpec(
        columns=[
            ColumnSpec("clip_id", "string", nullable=False),
            ColumnSpec("bytes", "binary", nullable=False),
            ColumnSpec("sr_hz", "int", min_value=1, max_value=384_000),
            ColumnSpec("dur_ms", "int", min_value=1),
            ColumnSpec("codec", "string", nullable=False, allowed=list(codecs.CODECS)),
            ColumnSpec("transcript", "string"),
        ],
        key_col="clip_id",
        part_col="part",
    )


@dataclass
class SuiteSpec:
    """What to validate. ``checks`` subsets allow cheap smoke suites."""

    schema_spec: TableSchemaSpec = field(default_factory=default_clips_schema_spec)
    drift_specs: list[BinSpec] = field(
        default_factory=lambda: [
            BinSpec("dur_ms", 0.0, 20000.0, 40),
            BinSpec("sr_hz", 0.0, 48000.0, 48),
        ]
    )
    psi_threshold: float = 0.25
    # the default-ON entries of the check table (plans/checks.py). Among
    # them byte_length and encoding are pure-codegen projections (payload
    # byte length vs declared metadata; transcript encoding signals) — at
    # 10^12 clips the cheapest checks in the suite, catching truncation and
    # mojibake BEFORE the decode pass
    checks: tuple = DEFAULT_CHECKS
    # which string column the encoding check inspects; must exist in
    # schema_spec.columns when the check is enabled (run_suite fails fast)
    encoding_text_col: str = "transcript"
    # transcript<->audio plausibility bounds (words/sec); the check itself is
    # opt-in via checks=(..., "speaking_rate") — see plans/checks.py
    speaking_rate_bounds: tuple = (0.3, 6.0)
    # The audio opt-ins below share the wave's ONE Python pass with the
    # payload check (plans/checks.py:_decode_pass): enabling one adds its
    # kernel's numpy work on batches already in Python, not another trip
    # of the payload bytes across the JVM->Python boundary.
    # loudness-normalization feasibility (target dBFS, ok-tolerance dB);
    # opt-in via checks=(..., "loudness") — see media.loudness_audit.
    loudness_bounds: tuple = (-20.0, 1.0)
    # interior-dropout detection (mid-clip digital-silence runs >= this many
    # ms — buffer underruns / network dropouts); opt-in via
    # checks=(..., "dropout") — see media.dropout_audit.
    dropout_min_run_ms: float = 30.0
    # mislabeled-codec sniff (declared-law decode noise-like while an
    # alternative decodes to plausible audio; catches ulaw<->alaw swaps
    # byte_length cannot see); opt-in via checks=(..., "codec_sniff") —
    # see payload.codec_sniff_audit. Inside the shared pass it still
    # decodes every clip under all 4 laws: the heaviest audio kernel.
    codec_sniff_ratio: float = 3.0
    # synthetic narrowband-tone detection (Hann-windowed spectral flatness
    # under this threshold => machine-generated tone, not recorded audio);
    # opt-in via checks=(..., "tonal") — see media.tonal_audit. FFT
    # bounded at 8192 samples/clip.
    tonal_flatness_threshold: float = 2e-3
    # stuck-buffer detection (>= min_repeats bit-identical non-silent
    # frames of frame_ms each); opt-in via checks=(..., "stutter") — see
    # media.stutter_audit.
    stutter_params: tuple = (20.0, 3)
    # payload-check COST tier: the reference-comparison pass (decode + SNR
    # + transcript equality — the one check whose cost is dominated by
    # decoding bytes) runs on a deterministic hash-sample of keys when set:
    # (fraction, salt) -> keep keys with pmod(xxhash64(key || salt), 1e6)
    # < fraction*1e6. At 10^12 clips this is the knob that turns an
    # every-run decode of the corpus into a bounded screen; byte_length +
    # encoding stay full-coverage (pure metadata/codegen). Verdict counts
    # are exact OVER THE SAMPLE, and "passed" means "no violation found in
    # the sample" — the sample is part of the spec hash, so changing
    # fraction or salt (e.g. rotating salt to sweep coverage across runs)
    # deliberately invalidates prior partition verdicts: a different
    # evidence basis is a different verdict. With audio opt-ins on, every
    # clip still enters the shared decode pass (they need it); the sample
    # then prunes the ref side and the payload rows. None = full coverage.
    payload_sample: tuple | None = None
    # partitioning contract: when the table is bucket-partitioned by
    # hash(key) (Iceberg bucket(clip_id) / our crc32 synth), uniqueness and
    # referential checks decompose per-partition and resume safely. If False
    # they run globally on every invocation (cheap: key columns only).
    key_partitioned: bool = True
    uniqueness_salts: int = 32
    # violations SINK bound: at 10^12 rows a catastrophic failure (ref table
    # gone, a schema change that flags every row) would otherwise write
    # table-scale violation rows to the sink. Per (part, check) only the
    # top-N most severe example rows are kept (deterministic order:
    # severity desc, key asc, detail asc); verdict counts stay EXACT — they
    # aggregate the full violation set BEFORE the cap. None = unbounded.
    max_violation_rows_per_check: int | None = 10_000

    def spec_hash(self) -> str:
        """Stable content hash over the spec tree + engine version; part of
        checkpoint lineage (editing the spec — in code OR in a spec FILE —
        invalidates prior partition verdicts)."""
        def enc(o):
            # a Column (extra_predicates values) must hash by its EXPRESSION
            # string, not by vars(): recursing into the py4j JavaObject would
            # pull per-JVM object ids into the blob, silently invalidating
            # every checkpoint on each new driver process
            from pyspark.sql import Column

            if isinstance(o, Column):
                return str(o)
            if hasattr(o, "__dict__"):
                return {k: enc(v) for k, v in vars(o).items()}
            if isinstance(o, (list, tuple)):
                return [enc(x) for x in o]
            if isinstance(o, dict):
                return {k: enc(v) for k, v in o.items()}
            return o

        blob = json.dumps(
            {"spec": enc(self), "engine": __version__}, sort_keys=True, default=str
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


# -- config-file lifecycle ----------------------------------------------------
#
# Reference analogue: the reference's whole run is driven by a YAML file
# (conf/base/globals_template.yml:1-54) that the app EDITS and writes back
# (app_tab/run_anomaly_detection.py:95-96) and settings.py interpolates
# (settings.py:25-32). Here a YAML/JSON document loads into the same
# SuiteSpec dataclass tree the code path uses, so a file-driven suite gets
# the identical spec-hash lineage: editing the file invalidates checkpoints.

_SPEC_KEYS = {
    "schema", "drift", "psi_threshold", "checks", "key_partitioned",
    "uniqueness_salts", "speaking_rate_bounds", "loudness_bounds",
    "dropout_min_run_ms", "codec_sniff_ratio", "tonal_flatness_threshold",
    "stutter_params", "encoding_text_col", "max_violation_rows_per_check",
    "payload_sample",
}

_SCHEMA_KEYS = {"columns", "key_col", "part_col"}
_COLUMN_KEYS = {"name", "dtype", "nullable", "allowed", "min_value", "max_value"}
_DRIFT_KEYS = {"col", "lo", "hi", "n_bins"}


def _check_keys(d: dict, allowed: set, where: str) -> None:
    unknown = set(d) - allowed
    if unknown:
        raise ValueError(
            f"unknown {where} key(s) {sorted(unknown)}; allowed: {sorted(allowed)}"
        )


def spec_from_dict(doc: dict) -> SuiteSpec:
    """Build a SuiteSpec from a parsed YAML/JSON document. Absent sections
    keep the code defaults; unknown keys are ERRORS (a typo'd constraint
    silently validating nothing is worse than a crash)."""
    doc = dict(doc or {})
    _check_keys(doc, _SPEC_KEYS, "spec")
    kwargs: dict = {}
    if "schema" in doc:
        sch = dict(doc["schema"])
        _check_keys(sch, _SCHEMA_KEYS, "schema")
        cols = []
        for c in sch.get("columns", []):
            c = dict(c)
            _check_keys(c, _COLUMN_KEYS, "column")
            if "name" not in c or "dtype" not in c:
                raise ValueError(f"column spec needs name+dtype: {c}")
            cols.append(ColumnSpec(**c))
        if not cols:
            raise ValueError("schema.columns must be a non-empty list")
        kwargs["schema_spec"] = TableSchemaSpec(
            columns=cols,
            key_col=sch.get("key_col", "clip_id"),
            part_col=sch.get("part_col", "part"),
        )
    if "drift" in doc:
        specs = []
        for d in doc["drift"]:
            d = dict(d)
            _check_keys(d, _DRIFT_KEYS, "drift")
            specs.append(
                BinSpec(d["col"], float(d["lo"]), float(d["hi"]), int(d["n_bins"]))
            )
        kwargs["drift_specs"] = specs
    if "psi_threshold" in doc:
        kwargs["psi_threshold"] = float(doc["psi_threshold"])
    if "checks" in doc:
        valid = set(ALL_CHECKS)
        bad = set(doc["checks"]) - valid
        if bad:
            raise ValueError(f"unknown check(s) {sorted(bad)}; valid: {sorted(valid)}")
        kwargs["checks"] = tuple(doc["checks"])
    if "speaking_rate_bounds" in doc:
        b = doc["speaking_rate_bounds"]
        if not (isinstance(b, (list, tuple)) and len(b) == 2):
            raise ValueError("speaking_rate_bounds must be [min_wps, max_wps]")
        kwargs["speaking_rate_bounds"] = (float(b[0]), float(b[1]))
    if "loudness_bounds" in doc:
        b = doc["loudness_bounds"]
        if not (isinstance(b, (list, tuple)) and len(b) == 2):
            raise ValueError("loudness_bounds must be [target_dbfs, tolerance_db]")
        kwargs["loudness_bounds"] = (float(b[0]), float(b[1]))
    if "dropout_min_run_ms" in doc:
        kwargs["dropout_min_run_ms"] = float(doc["dropout_min_run_ms"])
    if "codec_sniff_ratio" in doc:
        kwargs["codec_sniff_ratio"] = float(doc["codec_sniff_ratio"])
    if "tonal_flatness_threshold" in doc:
        kwargs["tonal_flatness_threshold"] = float(doc["tonal_flatness_threshold"])
    if "stutter_params" in doc:
        b = doc["stutter_params"]
        if not (isinstance(b, (list, tuple)) and len(b) == 2):
            raise ValueError("stutter_params must be [frame_ms, min_repeats]")
        kwargs["stutter_params"] = (float(b[0]), int(b[1]))
    if "encoding_text_col" in doc:
        kwargs["encoding_text_col"] = str(doc["encoding_text_col"])
    if "key_partitioned" in doc:
        kwargs["key_partitioned"] = bool(doc["key_partitioned"])
    if "uniqueness_salts" in doc:
        kwargs["uniqueness_salts"] = int(doc["uniqueness_salts"])
    if "payload_sample" in doc:
        ps = doc["payload_sample"]
        if ps is not None:
            if not (isinstance(ps, (list, tuple)) and len(ps) == 2):
                raise ValueError("payload_sample must be [fraction, salt] or null")
            frac = float(ps[0])
            if not (0.0 < frac <= 1.0):
                raise ValueError("payload_sample fraction must be in (0, 1]")
            ps = (frac, str(ps[1]))
        kwargs["payload_sample"] = ps
    if "max_violation_rows_per_check" in doc:
        cap = doc["max_violation_rows_per_check"]
        if cap is not None:
            cap = int(cap)
            if cap < 1:
                raise ValueError(
                    "max_violation_rows_per_check must be >= 1 or null "
                    "(a zero cap would leave no example row to diagnose a "
                    "failed partition with)"
                )
        kwargs["max_violation_rows_per_check"] = cap
    return SuiteSpec(**kwargs)


def spec_from_file(path: str) -> SuiteSpec:
    """Load a SuiteSpec from a ``.yml``/``.yaml``/``.json`` file (the
    ``jobs/validate.py --spec`` entry). YAML is parsed with ``safe_load`` —
    plain mappings/lists/scalars only, no object tags."""
    with open(path) as f:
        text = f.read()
    if path.endswith(".json"):
        doc = json.loads(text)
    else:
        import yaml

        doc = yaml.safe_load(text)
    if doc is None:
        doc = {}
    if not isinstance(doc, dict):
        raise ValueError(f"spec file {path!r} must contain a mapping at top level")
    return spec_from_dict(doc)
