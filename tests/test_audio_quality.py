"""Extended audio QA signals (media.audio_features extended=True) vs numpy
oracles, and the transcript<->audio speaking-rate check (unit + suite)."""

import os

import numpy as np

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import media
from audit_anomaly_detection_etl_spark.plans.runner import run_suite, wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec


def _clip_rows():
    sr = 16000
    t = np.arange(sr) / sr
    tone = 0.5 * np.sin(2 * np.pi * 440 * t)            # clean tone
    clipped = np.clip(2.0 * np.sin(2 * np.pi * 440 * t), -1.0, 1.0)
    silent = np.zeros(sr // 2)
    biased = np.full(sr // 4, 0.25)                      # pure DC
    rows = []
    for cid, x in [("tone", tone), ("clip", clipped), ("sil", silent), ("dc", biased)]:
        rows.append((cid, 0, codecs.encode(x, "pcm_s16le"), "pcm_s16le", sr))
    return rows


def test_extended_features_match_numpy(spark):
    df = spark.createDataFrame(
        _clip_rows(), "clip_id string, part int, bytes binary, codec string, sr_hz int"
    )
    got = {
        r["clip_id"]: r.asDict()
        for r in media.audio_features(df, extended=True).collect()
    }
    for cid, _, raw, codec, _sr in _clip_rows():
        x = codecs.decode(raw, codec).astype(np.float64)
        g = got[cid]
        assert g["decode_ok"]
        assert abs(g["dc_offset"] - x.mean()) < 1e-12, cid
        assert (
            abs(g["clip_ratio"] - (np.abs(x) >= 32767.0 / 32768.0).mean()) < 1e-12
        ), cid
        assert abs(g["silence_ratio"] - (np.abs(x) < 1e-3).mean()) < 1e-12, cid
    assert got["sil"]["silence_ratio"] == 1.0
    assert got["clip"]["clip_ratio"] > 0.2
    assert got["tone"]["clip_ratio"] == 0.0
    assert abs(got["dc"]["dc_offset"] - 0.25) < 1e-4


def test_base_schema_unchanged(spark):
    df = spark.createDataFrame(
        _clip_rows(), "clip_id string, part int, bytes binary, codec string, sr_hz int"
    )
    cols = media.audio_features(df).columns
    assert "dc_offset" not in cols and "clip_ratio" not in cols


def test_speaking_rate_unit(spark):
    rows = [
        ("ok", 0, "ten words spoken over five seconds of audio here now", 5000),
        ("slow", 0, "hello", 60000),            # 0.0167 wps
        ("fast", 0, " ".join(["w"] * 500), 1000),  # 500 wps
        ("null_t", 0, None, 5000),
        ("empty_t", 0, "   ", 5000),
        ("zero_dur", 0, "some words here", 0),
        ("null_dur", 0, "some words here", None),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, part int, transcript string, dur_ms int"
    )
    v = wave_violations(df, None, SuiteSpec(), ("speaking_rate",))
    got = {r["key"]: r.asDict() for r in v.collect()}
    assert set(got) == {"slow", "fast"}
    assert all(v["check"] == "speaking_rate" and v["severity"] == 2.5 for v in got.values())
    assert "wps=500" in got["fast"]["detail"]


def test_speaking_rate_in_suite(spark, clip_dir, tmp_path):
    # impossible bounds => every measurable clip violates; proves the check
    # is wired through spec -> runner -> violations/verdicts
    spec = SuiteSpec(checks=("speaking_rate",), speaking_rate_bounds=(1e5, 2e5))
    res = run_suite(
        spark,
        clips_root=os.path.join(clip_dir, "clips"),
        ref_root=None,
        hist_ref_path=None,
        checkpoint_dir=str(tmp_path / "ck"),
        spec=spec,
    )
    total = sum(v.violations_by_check.get("speaking_rate", 0) for v in res.verdicts.values())
    assert total > 1000  # 1200 clips minus the planted null/short transcripts
    assert all(set(v.violations_by_check) <= {"speaking_rate"} for v in res.verdicts.values())


def test_spec_loader_accepts_speaking_rate(tmp_path):
    from audit_anomaly_detection_etl_spark.plans.spec import spec_from_file

    p = tmp_path / "s.json"
    p.write_text(
        '{"checks": ["schema", "speaking_rate"], "speaking_rate_bounds": [0.5, 5]}'
    )
    spec = spec_from_file(str(p))
    assert "speaking_rate" in spec.checks
    assert spec.speaking_rate_bounds == (0.5, 5.0)
    # bounds participate in the lineage hash
    p2 = tmp_path / "s2.json"
    p2.write_text(
        '{"checks": ["schema", "speaking_rate"], "speaking_rate_bounds": [0.5, 6]}'
    )
    assert spec.spec_hash() != spec_from_file(str(p2)).spec_hash()
