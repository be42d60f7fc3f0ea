"""Payload validation (Arrow-batched decode) vs the generator's expected violations."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from audit_anomaly_detection_etl_spark.operators import payload


@pytest.fixture(scope="module")
def report(spark, clip_dir):
    clips = spark.read.parquet(os.path.join(clip_dir, "clips"))
    ref = spark.read.parquet(os.path.join(clip_dir, "clips_ref"))
    return payload.payload_report(clips, ref).cache()


@pytest.fixture(scope="module")
def expected(clip_dir):
    return pq.read_table(os.path.join(clip_dir, "violations_expected.parquet")).to_pandas()


def test_report_covers_every_clip(spark, clip_dir, report):
    clips = spark.read.parquet(os.path.join(clip_dir, "clips"))
    assert report.count() == clips.count()


def test_violations_match_expected_exactly(report, expected):
    """Violation rows exactly match the generator sidecar — the parity
    requirement from BASELINE.json (violation rows 'exactly match the
    reference ETL's anomaly-flag outputs', here vs the synthesized oracle).
    """
    v = payload.payload_violations(report).toPandas()
    got = set(zip(v.key, v.check))
    exp = set(
        zip(expected.clip_id, expected.check)
    ) - {
        (c, k)
        for c, k in zip(expected.clip_id, expected.check)
        if k in ("uniqueness", "referential_missing_ref", "referential_orphan_ref")
    }
    # payload checks cover codec/snr/dur/transcript families
    payload_checks = {"codec", "payload_snr", "transcript_null", "transcript_mismatch"}
    assert {k for _, k in got} <= payload_checks | {"dur_mismatch"}
    assert got == {(c, k) for c, k in exp if k in payload_checks}


def test_snr_present_for_clean_rows(report):
    r = report.toPandas()
    clean = r[r.decode_ok & r.has_ref]
    assert (clean.snr_db.notna()).all()
    assert (clean[clean.transcript_ok].snr_db >= 30.0).mean() > 0.97


def test_flags_decoupled_from_decode(spark):
    """Transcript flags are evaluated independently of audio decode success
    (payload_report docstring): a decode-failed clip with a null transcript
    emits BOTH codec and transcript_null violations, and an empty payload
    with an empty ref scores snr=-inf (silent reference can't attest)."""
    import numpy as np

    pcm = (np.sin(np.linspace(0, 20, 160)) * 0.3).astype(np.float32)
    clips = spark.createDataFrame(
        [
            ("a", bytearray(b"\x01\x02\x03"), 16000, 10, "zzz_unknown", None),
            ("b", bytearray(), 16000, 0, "pcm_f32le", "hello"),
            ("c", bytearray(pcm.tobytes()), 16000, 10, "pcm_f32le", "ok"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    ).withColumn("part", F.lit(0))
    ref = spark.createDataFrame(
        [
            ("a", bytearray(b"\x00\x00\x80\x3f"), "present"),
            ("b", bytearray(), "hello"),
            ("c", bytearray(pcm.tobytes()), "ok"),
        ],
        "clip_id string, pcm_ref binary, transcript_ref string",
    )
    rep = {r["clip_id"]: r for r in payload.payload_report(clips, ref).collect()}
    assert not rep["a"]["decode_ok"] and rep["a"]["transcript_null"]
    assert rep["b"]["decode_ok"] and rep["b"]["snr_db"] == float("-inf")
    assert rep["c"]["decode_ok"] and rep["c"]["transcript_ok"] and rep["c"]["snr_db"] == float("inf")
    v = payload.payload_violations(payload.payload_report(clips, ref)).toPandas()
    a_checks = set(v[v.key == "a"].check)
    assert {"codec", "transcript_null"} <= a_checks


def test_corrupt_float32_payload_fails_snr_not_nan(spark):
    """float32 overflow (squares past f32 max -> inf/inf = NaN) and NaN
    samples must score snr_db = -inf and trip payload_snr — Spark orders
    NaN above every number, so a NaN snr_db would silently PASS the
    `< threshold` comparison."""
    import numpy as np

    ref = (np.sin(np.linspace(0, 20, 160)) * 0.3).astype(np.float32)
    huge = np.full(160, 1.0e20, dtype=np.float32)        # sig=inf, noise=inf
    nan_poison = ref.copy(); nan_poison[7] = np.nan      # noise=NaN
    clips = spark.createDataFrame(
        [
            ("overflow", bytearray(huge.tobytes()), 16000, 10, "pcm_f32le", "t"),
            ("nanpoison", bytearray(nan_poison.tobytes()), 16000, 10, "pcm_f32le", "t"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    ).withColumn("part", F.lit(0))
    refs = spark.createDataFrame(
        [
            ("overflow", bytearray((-huge).tobytes()), "t"),
            ("nanpoison", bytearray(ref.tobytes()), "t"),
        ],
        "clip_id string, pcm_ref binary, transcript_ref string",
    )
    rep = {r["clip_id"]: r for r in payload.payload_report(clips, refs).collect()}
    assert rep["overflow"]["snr_db"] == float("-inf")
    assert rep["nanpoison"]["snr_db"] == float("-inf")
    v = payload.payload_violations(payload.payload_report(clips, refs)).toPandas()
    assert {"overflow", "nanpoison"} <= set(v[v.check == "payload_snr"].key)


def test_severity_ranking(report):
    from pyspark.sql import functions as F

    v = payload.payload_violations(report)
    ranked = v.orderBy(F.desc("severity"), "key").toPandas()
    if len(ranked):
        assert ranked.severity.is_monotonic_decreasing


def test_byte_length_audit_verdicts(spark):
    """Planted metadata/payload mismatches each land in their verdict."""
    import numpy as np

    from audit_anomaly_detection_etl_spark.functions import codecs as C
    from audit_anomaly_detection_etl_spark.operators import payload as P

    sr = 8000
    pcm = 0.3 * np.sin(np.arange(sr) / 20.0)  # exactly 1 s
    full = C.encode(pcm, "pcm_s16le")
    rows = [
        ("ok", 0, full, "pcm_s16le", sr, 1000),
        ("trunc", 0, full[: len(full) // 2], "pcm_s16le", sr, 1000),
        ("over", 0, full + full, "pcm_s16le", sr, 1000),
        # declared ulaw (1 B/sample) but payload is s16le (2 B/sample)
        ("miscodec", 0, full, "ulaw", sr, 1000),
        ("badcodec", 0, full, "opus", sr, 1000),
        ("badmeta", 0, full, "pcm_s16le", 0, 1000),
    ]
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["clip_id", "part", "bytes", "codec", "sr_hz", "dur_ms"])
    )
    out = {r["clip_id"]: r for r in P.byte_length_audit(df).collect()}
    assert out["ok"]["verdict"] == "ok" and out["ok"]["delta_samples"] == 0
    assert out["trunc"]["verdict"] == "truncated"
    assert out["trunc"]["delta_samples"] == -sr // 2
    assert out["over"]["verdict"] == "oversized"
    assert out["miscodec"]["verdict"] == "oversized"  # 2x bytes for 1 B/sample
    assert out["badcodec"]["verdict"] == "unknown_codec"
    assert out["badmeta"]["verdict"] == "bad_meta"
    assert out["badmeta"]["expected_bytes"] is None


def test_byte_length_in_suite(spark, clip_dir, tmp_path):
    """checks=("byte_length",) wired through spec -> runner -> verdicts; the
    synth injector's truncated/mis-codec clips surface as byte_length rows."""
    import os

    from audit_anomaly_detection_etl_spark.plans.runner import run_suite
    from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec

    spec = SuiteSpec(checks=("byte_length",))
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck"),
        spec=spec,
    )
    total = sum(v.violations_by_check.get("byte_length", 0) for v in res.verdicts.values())
    assert total >= 1  # injector plants truncated payloads
    assert all(set(v.violations_by_check) <= {"byte_length"} for v in res.verdicts.values())


def test_unknown_codec_reported_when_schema_lacks_codec_domain(spark, clip_dir, tmp_path):
    """A spec that runs the schema check but whose codec column has NO
    allowed-list must NOT suppress byte_length's unknown_codec verdicts —
    otherwise unknown codecs pass the whole suite silently. (The suppression
    exists only to avoid double-reporting when the schema domain constraint
    actually owns the defect.)"""
    import os

    from audit_anomaly_detection_etl_spark.operators.schema_check import (
        ColumnSpec,
        TableSchemaSpec,
    )
    from audit_anomaly_detection_etl_spark.plans.runner import run_suite
    from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec

    no_domain = TableSchemaSpec(
        columns=[
            ColumnSpec("clip_id", "string", nullable=False),
            ColumnSpec("codec", "string", nullable=False),  # no allowed=
        ],
        key_col="clip_id",
        part_col="part",
    )
    spec = SuiteSpec(schema_spec=no_domain, checks=("schema", "byte_length"))
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck_nodom"),
        spec=spec,
    )
    total = sum(
        v.violations_by_check.get("byte_length", 0) for v in res.verdicts.values()
    )
    assert total >= 1  # injector's unknown-codec clips surface via byte_length

    # control: with the domain constraint present, byte_length defers to it
    spec2 = SuiteSpec(checks=("schema", "byte_length"))
    res2 = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck_dom"),
        spec=spec2,
    )
    v2 = spark.read.parquet(res2.violations_path).toPandas()
    bl = v2[(v2.check == "byte_length") & v2.detail.str.startswith("unknown_codec")]
    assert len(bl) == 0


def test_byte_length_fractional_truncation_not_ok(spark):
    """A payload short by a FRACTION of a sample (not even bps-aligned) must
    never verdict 'ok': the old sample-delta cast truncated -1.75 -> -1 and
    passed the 1-sample tolerance."""
    import numpy as np
    import pandas as pd

    from audit_anomaly_detection_etl_spark.functions import codecs as C
    from audit_anomaly_detection_etl_spark.operators import payload as P

    pcm = 0.3 * np.sin(np.arange(1000) / 20.0)
    full = C.encode(pcm, "pcm_f32le")  # 4000 bytes
    rows = [
        ("frac_short", 0, full[:3993], "pcm_f32le", 8000, 125),  # -1.75 samples
        ("misaligned_over", 0, full + b"\x00\x00", "pcm_f32le", 8000, 125),
        ("one_sample_short", 0, full[:3996], "pcm_f32le", 8000, 125),  # aligned -1
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["clip_id", "part", "bytes", "codec", "sr_hz", "dur_ms"])
    )
    out = {r["clip_id"]: r for r in P.byte_length_audit(df).collect()}
    assert out["frac_short"]["verdict"] == "truncated"
    assert out["misaligned_over"]["verdict"] == "oversized"
    assert out["one_sample_short"]["verdict"] == "ok"  # within aligned tolerance


@pytest.mark.parametrize(
    "check,reported",
    [("byte_length", "byte_length"), ("payload", "dur_mismatch")],
    ids=["byte_length", "payload"],
)
def test_byte_length_custom_key_and_part_cols(spark, check, reported):
    """A table keyed utt_id/pt: the clip side is read through key_col /
    part_col, and payload's ref side (keyed utt_id too) joins on key_col."""
    import numpy as np
    import pandas as pd

    from audit_anomaly_detection_etl_spark.operators.schema_check import TableSchemaSpec
    from audit_anomaly_detection_etl_spark.plans.runner import wave_violations
    from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec

    # one s16 sample declared as 99999 ms; the ref matches bit-exactly
    rows = [("u1", 3, b"\x00\x00", "pcm_s16le", 8000, 99999, "hi")]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["utt_id", "pt", "bytes", "codec", "sr_hz", "dur_ms", "transcript"]
        )
    )
    ref = spark.createDataFrame(
        pd.DataFrame(
            [("u1", np.zeros(1, dtype=np.float32).tobytes(), "hi")],
            columns=["utt_id", "pcm_ref", "transcript_ref"],
        )
    )
    spec = SuiteSpec(schema_spec=TableSchemaSpec([], key_col="utt_id", part_col="pt"))
    v = wave_violations(df, ref, spec, (check,)).collect()
    assert len(v) == 1 and v[0]["key"] == "u1" and v[0]["part"] == 3
    assert v[0]["check"] == reported


def test_null_metadata_not_reported_as_dur_mismatch(spark):
    """NULL sr_hz/dur_ms used to cast NaN->INT64_MIN and emit a spurious
    dur_mismatch; null metadata is the schema/byte_length checks' defect."""
    import numpy as np
    import pandas as pd

    from audit_anomaly_detection_etl_spark.functions import codecs as C
    from audit_anomaly_detection_etl_spark.operators import payload as P

    pcm = 0.3 * np.sin(np.arange(800) / 20.0)
    enc = C.encode(pcm, "pcm_s16le")
    clips = spark.createDataFrame(
        pd.DataFrame(
            [("nullmeta", 0, enc, None, None, "pcm_s16le", "t")],
            columns=["clip_id", "part", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
        ).astype({"sr_hz": "Int32", "dur_ms": "Int32"})
    )
    ref = spark.createDataFrame(
        pd.DataFrame(
            [("nullmeta", 0, pcm.astype(np.float32).tobytes(), "t")],
            columns=["clip_id", "part", "pcm_ref", "transcript_ref"],
        )
    )
    rep = P.payload_report(clips, ref).collect()[0]
    assert rep["decode_ok"] and rep["dur_ok"]  # no dur_mismatch for null meta
    v = P.payload_violations(P.payload_report(clips, ref)).toPandas()
    assert "dur_mismatch" not in set(v.check)


def test_allzero_bitexact_clip_is_inf_like_snr_db(spark):
    """All-zero ref == all-zero payload: bit-exact wins (+inf), matching
    codecs.snr_db's ordering — not a payload_snr violation."""
    import numpy as np
    import pandas as pd

    from audit_anomaly_detection_etl_spark.functions import codecs as C
    from audit_anomaly_detection_etl_spark.operators import payload as P

    z = np.zeros(500)
    clips = spark.createDataFrame(
        pd.DataFrame(
            [("silent", 0, C.encode(z, "pcm_f32le"), 8000, 63, "pcm_f32le", "t")],
            columns=["clip_id", "part", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
        )
    )
    ref = spark.createDataFrame(
        pd.DataFrame(
            [("silent", 0, z.astype(np.float32).tobytes(), "t")],
            columns=["clip_id", "part", "pcm_ref", "transcript_ref"],
        )
    )
    rep = P.payload_report(clips, ref).collect()[0]
    assert rep["snr_db"] == float("inf")
    assert rep["snr_db"] == C.snr_db(z, z)
